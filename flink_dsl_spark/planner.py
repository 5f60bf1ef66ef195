"""Planner: resolved AST -> PySpark DataFrame (Catalyst logical plan).

This is the layer the reference stubbed out (empty SQLContext,
fsql/SQLContext.scala:4-41; catalog stub fsql/Catalog.scala:14-17).
We emit declarative DataFrame expressions and let Catalyst do predicate
pushdown / column pruning / join selection / codegen (SURVEY.md §4 —
zero custom optimizer rules by design).

Key mechanics:
  * every base relation is ``df.alias(binding)`` so qualified column refs
    compile to ``col("binding.name")``; column handles and aliased
    relations are built once per engine (``Planner._col``,
    ``Planner._lit``, ``Catalog.aliased``), not once per statement;
  * aggregation compiles straight over the input: grouping exprs become
    ``groupBy(<expr>.alias("__g{i}"))`` and aggregate arguments stay
    inline (``sum(<expr>)``), then one final select; HAVING and ORDER
    BY compile in the same aggregate context (SQL semantics, evaluated
    per group).  ROLLUP/CUBE/GROUPING SETS first project keys and
    arguments as hidden ``__g{i}``/``__a{j}`` columns below the Expand;
  * FSQL window specs (fsql/Ast.scala:132-136) compile to:
      - time windows  -> F.window(tcol, size, every)   [Spark-native]
      - count windows -> row_number / exploded trigger buckets
      - delta windows -> numeric trigger buckets (same helper)
    batch emulation documented in streaming/windows.py;
  * statements containing subqueries in expression position (IN/EXISTS/
    scalar) compile via SQL-text generation -> spark.sql, which is the
    documented Spark primitive for decorrelation (SURVEY.md §2.2).
"""

from __future__ import annotations

import functools
import math
from decimal import Decimal
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from .ast_nodes import (
    Between, BinOp, Case, Cast, Col, CreateSchema, CreateStream, Delete,
    DerivedTable, Exists, FuncCall, InList, InSubquery, Insert,
    QuantifiedCmp, SCORE_HINTS,
    IntervalLit, IsNull, Join, Lit, OrderItem, Param, ScalarSubquery,
    Subscript,
    Select, SelectItem, SetOp, Star, TableRef, UnOp, Update, WindowFunc,
    null_treatment_error,
    WindowSpec, expr_children, relation_leaves, walk_expr,
    visible_leaves,
)
from .errors import PlanError, UnsupportedError
from .functions import FunctionRegistry
from .streaming.stateful import _declare
from .streaming.windows import last_window_filter, window_grouping


def _select_has_subquery(sel) -> bool:
    """True if any expression position (per _expr_subqueries — the one
    shared position list) or nested derived table contains a subquery."""
    if isinstance(sel, SetOp):
        return _select_has_subquery(sel.left) or _select_has_subquery(sel.right)
    if any(True for _ in _expr_subqueries(sel)):
        return True
    if sel.from_ is not None:
        for leaf in relation_leaves(sel.from_):
            if isinstance(leaf, DerivedTable) and (
                    leaf.lateral           # LATERAL correlates across
                                           # FROM — SQL path only
                    or _select_has_subquery(leaf.query)):
                return True
    return False


def _expr_subqueries(sel):
    """Yield the Select of every expression-position subquery in this
    Select — WHERE/HAVING, select items, GROUP/ORDER keys, and join
    conditions (the same positions _select_has_subquery scans)."""
    exprs = [i.expr for i in sel.items] + list(sel.group_by) \
        + [o.expr for o in sel.order_by]
    for opt in (sel.where, sel.having, sel.qualify):
        if opt is not None:
            exprs.append(opt)
    if sel.from_ is not None:
        def join_conds(rel):
            if isinstance(rel, Join):
                yield from join_conds(rel.left)
                yield from join_conds(rel.right)
                if rel.on is not None:
                    yield rel.on
        exprs.extend(join_conds(sel.from_))
    for e in exprs:
        if isinstance(e, Star):
            continue
        for x in walk_expr(e):
            if isinstance(x, (InSubquery, Exists, ScalarSubquery, QuantifiedCmp)):
                yield x.query


def _query_has_hints(q) -> bool:
    """True if ANY Select in the tree carries optimizer hints — SetOp
    branches, derived-table subqueries, AND expression-position
    subqueries (EXISTS / IN / scalar) included.  The SQL-compilation
    path can't honor hints (sqlgen never renders them), so it must
    reject rather than silently drop one buried in a branch."""
    if isinstance(q, SetOp):
        return _query_has_hints(q.left) or _query_has_hints(q.right)
    if getattr(q, "hints", None):
        return True
    if any(_query_has_hints(sub) for sub in _expr_subqueries(q)):
        return True
    if getattr(q, "from_", None) is not None:
        for leaf in relation_leaves(q.from_):
            if isinstance(leaf, DerivedTable) and \
                    _query_has_hints(leaf.query):
                return True
    return False


def _has_window(sel) -> bool:
    if isinstance(sel, SetOp):
        return _has_window(sel.left) or _has_window(sel.right)
    if sel.from_ is None:
        return False
    return any(getattr(l, "window", None) is not None
               for l in relation_leaves(sel.from_))


# capacity of Planner._col: a warm pass of the 78 catalog FSQL
# statements references 204 distinct names
_COL_MEMO_SIZE = 4096
# capacity of Planner._lit, and the value types it keeps: those whose
# repr spells the value exactly (a datetime literal also depends on
# the process time zone, so it is built each time)
_LIT_MEMO_SIZE = 4096
_LIT_MEMO_TYPES = frozenset({bool, int, float, str, Decimal, type(None)})


class Planner:
    def __init__(self, catalog, registry: FunctionRegistry, resolver):
        self.catalog = catalog
        self.registry = registry
        self.resolver = resolver
        # every column reference, by name: PySpark Classic Columns are
        # immutable, so one handle serves every statement, and F.col
        # costs three py4j round trips (class lookup, member lookup,
        # call).  Per planner, never module level: a handle belongs to
        # one JVM gateway.
        self._col = functools.lru_cache(maxsize=_COL_MEMO_SIZE)(F.col)
        # literal handles, the same way (see _lit)
        self._lit_memo = functools.lru_cache(maxsize=_LIT_MEMO_SIZE)(
            lambda _type, _repr, v: F.lit(v))
        self._params: list = []
        # salt(key, n) specs for the Select currently being planned;
        # keys are POPPED as their join consumes them (plan_select
        # errors on leftovers so a typo'd key can't silently no-op)
        self._salt_specs: dict = {}
        # QUALIFY alias substitution: lowercase projection alias ->
        # hidden column holding the computed item, active only while
        # the QUALIFY predicate compiles (empty otherwise)
        self._qualify_aliases: dict = {}
        # streaming running-aggregate substitution: id(WindowFunc) ->
        # column already computed by the stateful running_agg pass
        # (populated by _plan_streaming_over, consulted by
        # _compile_window_func before its batch-only guard)
        self._stream_wf_cols: dict = {}
        # whether the SELECT block whose items are compiling plans to a
        # streaming frame (plan_select's _is_stream decision; False
        # outside one, where UPDATE/DELETE/MERGE targets are batch),
        # read by _compile_window_func's batch-only guard
        self._select_stream = False
        # applyInPandasWithState passes in the statement being planned
        # (Spark allows one per streaming query; checked at plan time)
        self._stateful_passes = 0

    @functools.cached_property
    def _md5_hash(self):
        """The row hints' and TABLESAMPLE's id hash (md5_id_hash, seed
        42 at every call site), its literals taken from ``_lit``.
        Built on first use: ``llm_ops`` takes about 20 ms to import,
        which a statement without a hint never pays."""
        from .llm_ops.assemble import md5_id_hash
        h = functools.partial(md5_id_hash, lit=self._lit)
        h.hash_range = md5_id_hash.hash_range
        return h

    def _lit(self, v) -> Column:
        """``F.lit(v)``, built once per type and spelling of ``v``.
        The memo key carries ``type(v)`` and ``repr(v)``, not just
        ``v``: 0.0 == -0.0, 1 == 1.0 == True and Decimal('1.0') ==
        Decimal('1.00'), yet each is a different literal."""
        if type(v) not in _LIT_MEMO_TYPES:
            return F.lit(v)
        return self._lit_memo(type(v), repr(v), v)

    # ------------------------------------------------------------------
    # statement dispatch
    # ------------------------------------------------------------------

    def plan(self, stmt, params: Optional[list] = None):
        self._params = params or []
        self._stateful_passes = 0
        if isinstance(stmt, (Select, SetOp)):
            df = self.plan_query(stmt)
            if self._stateful_passes and df.isStreaming:
                if self._stateful_passes > 1:
                    # derived-table compositions reach here too (e.g.
                    # streaming OVER over a subquery that already ran a
                    # stateful pass) — same limitation, same message
                    raise PlanError(self._ONE_STATEFUL_MSG)
                _declare(df)            # read by FsqlEngine.start_sink
            return df
        from .ast_nodes import RecursiveWith
        if isinstance(stmt, RecursiveWith):
            # native WITH RECURSIVE text — Spark evaluates the
            # fixpoint itself (same dispatch as FsqlEngine._run; here
            # so EXPLAIN and direct planner callers work too).  This
            # is a SQL-compilation path: sqlgen never renders hints,
            # so one buried in a CTE or the body must reject like
            # _plan_via_sql, not silently drop (r14 probe: a sample
            # hint inside a recursive CTE ran UNSAMPLED)
            if any(_query_has_hints(q) for _, _, q in stmt.ctes) \
                    or _query_has_hints(stmt.body):
                raise PlanError(
                    "optimizer hints are not supported inside WITH "
                    "RECURSIVE (the SQL-compilation path)")
            from .sqlgen import to_sql
            return self.catalog.spark.sql(to_sql(stmt, self._params))
        if isinstance(stmt, Insert):
            return self.plan_insert(stmt)
        if isinstance(stmt, Update):
            return self.plan_update(stmt)
        if isinstance(stmt, Delete):
            return self.plan_delete(stmt)
        from .ast_nodes import Merge
        if isinstance(stmt, Merge):
            return self.plan_merge(stmt)
        raise PlanError(f"cannot plan statement {type(stmt).__name__}")

    def plan_query(self, q) -> DataFrame:
        if _select_has_subquery(q):
            if _has_window(q):
                raise UnsupportedError(
                    "subqueries combined with stream window specs are not "
                    "supported")
            return self._plan_via_sql(q)
        if isinstance(q, SetOp):
            return self.plan_setop(q)
        return self.plan_select(q)

    def _plan_via_sql(self, q) -> DataFrame:
        from .sqlgen import to_sql
        if _query_has_hints(q):
            raise PlanError(
                "optimizer hints are not supported in queries with "
                "subqueries (the SQL-compilation path)")
        return self.catalog.spark.sql(to_sql(q, self._params))

    def plan_setop(self, s: SetOp) -> DataFrame:
        left = self.plan_query(s.left)
        right = self.plan_query(s.right)
        if self._stateful_passes > 1 \
                and (left.isStreaming or right.isStreaming):
            # Spark allows ONE applyInPandasWithState per streaming
            # query, and its UnsupportedOperationChecker only fires at
            # writeStream.start() — reject at plan time with a scope
            # message instead of letting a raw analysis error surface
            raise PlanError(self._ONE_STATEFUL_MSG)
        if s.op == "union_all":
            df = left.union(right)
        elif s.op == "union":
            df = left.union(right).distinct()
        elif s.op == "except":
            df = left.subtract(right)
        elif s.op == "except_all":
            df = left.exceptAll(right)
        elif s.op == "intersect":
            df = left.intersect(right)
        elif s.op == "intersect_all":
            df = left.intersectAll(right)
        else:
            raise PlanError(f"unknown set op {s.op}")
        if s.order_by:
            df = df.orderBy(*[
                _sorted_col(self._col(df.columns[_setop_order_index(s, o, df)]),
                            o)
                for o in s.order_by])
        df = _apply_limit_offset(df, self._lit_int(s.limit),
                                 self._lit_int(s.offset))
        return df

    def _lit_int(self, e) -> Optional[int]:
        if e is None:
            return None
        if isinstance(e, Param):
            return int(self._bind_param(e))
        if isinstance(e, Lit):
            return int(e.value)
        raise PlanError("LIMIT/OFFSET must be a literal or parameter")

    def _bind_param(self, p: Param):
        if p.index >= len(self._params):
            raise PlanError(
                f"statement uses parameter ?#{p.index + 1} but only "
                f"{len(self._params)} parameter(s) were supplied")
        return self._params[p.index]

    # ------------------------------------------------------------------
    # SELECT
    # ------------------------------------------------------------------

    def plan_select(self, sel: Select) -> DataFrame:
        agg_ctx = self._needs_aggregation(sel)
        self._check_window_func_positions(sel)
        windowed = [l for l in (relation_leaves(sel.from_)
                                if sel.from_ is not None else [])
                    if getattr(l, "window", None) is not None]
        # Window-spec execution mode (SURVEY.md §2.9 / windows.py header):
        #   - non-aggregating query, or a windowed JOIN of 2+ streams:
        #     snapshot semantics — each leaf filtered to its latest window
        #     BEFORE joining ("rows co-resident in current windows").
        #   - aggregating query over exactly one windowed stream:
        #     per-window grouping (tumbling/sliding).
        snapshot_mode = bool(windowed) and (not agg_ctx or len(windowed) > 1)
        stream = self._is_stream(sel)
        group_window_leaf = windowed[0] if (agg_ctx and len(windowed) == 1) \
            else None

        # hints: salt(key, n) routes the matching equi-join through a
        # salted physical plan (skew.py's shape) — the scale escape
        # hatch for hot keys AQE's skew split can't break up;
        # cap(group, id, k) applies llm_ops.assemble's anti-domination
        # cut (at most k rows per group, picked by seeded id-hash
        # order) to the filtered FROM rows, so the curation layer is
        # reachable from the dialect without the Python API
        salt_specs = {}
        row_hints: list[tuple] = []    # ("cap"|"token_budget", spec)
        for h in sel.hints:
            if h.name == "cap":
                if len(h.args) != 3 or not isinstance(h.args[0], str) \
                        or not isinstance(h.args[1], str) \
                        or isinstance(h.args[2], bool) \
                        or not isinstance(h.args[2], int) or h.args[2] < 1:
                    raise PlanError("cap hint takes (group_column, "
                                    "id_column, positive_int_k)")
                row_hints.append(("cap", (h.args[0], h.args[1],
                                          h.args[2])))
                continue
            if h.name == "token_budget":
                if len(h.args) != 3 or not isinstance(h.args[0], str) \
                        or not isinstance(h.args[1], str) \
                        or isinstance(h.args[2], bool) \
                        or not isinstance(h.args[2], int) or h.args[2] < 1:
                    raise PlanError("token_budget hint takes (id_column, "
                                    "tokens_column, positive_int_budget)")
                row_hints.append(("token_budget",
                                  (h.args[0], h.args[1], h.args[2])))
                continue
            if h.name == "mixture":
                if len(h.args) != 4 or not all(
                        isinstance(a, str) for a in h.args):
                    raise PlanError(
                        "mixture hint takes (domain_column, id_column, "
                        "tokens_column, 'dom=w,dom=w,...')")
                row_hints.append(("mixture", tuple(h.args)))
                continue
            if h.name == "mixture_temperature":
                t = h.args[4] if len(h.args) == 5 else None
                if len(h.args) != 5 or not all(
                        isinstance(a, str) for a in h.args[:4]) \
                        or isinstance(t, bool) \
                        or not isinstance(t, (int, float)) or not t > 0:
                    raise PlanError(
                        "mixture_temperature hint takes (domain_column, "
                        "id_column, tokens_column, weights, "
                        "positive_temperature)")
                row_hints.append(("mixture_temperature", tuple(h.args)))
                continue
            if h.name == "sample":
                if len(h.args) != 2 or not isinstance(h.args[0], str) \
                        or isinstance(h.args[1], bool) \
                        or not isinstance(h.args[1], int) \
                        or not 1 <= h.args[1] <= 999:
                    raise PlanError("sample hint takes (id_column, "
                                    "permille between 1 and 999)")
                row_hints.append(("sample", tuple(h.args)))
                continue
            if h.name == "bm25":
                if len(h.args) != 4 or not isinstance(h.args[0], str) \
                        or not isinstance(h.args[1], str) \
                        or not isinstance(h.args[2], str) \
                        or isinstance(h.args[3], bool) \
                        or not isinstance(h.args[3], int) \
                        or h.args[3] < 1:
                    raise PlanError("bm25 hint takes (text_column, "
                                    "id_column, 'term term ...', "
                                    "positive_int_k)")
                row_hints.append(("bm25", tuple(h.args)))
                continue
            if h.name == "hybrid_rrf":
                ok = (len(h.args) in (6, 7)
                      and all(isinstance(a, str) for a in h.args[:4])
                      and not isinstance(h.args[4], bool)
                      and isinstance(h.args[4], (int, str))
                      and not isinstance(h.args[5], bool)
                      and isinstance(h.args[5], int) and h.args[5] >= 1
                      and (len(h.args) == 6
                           or (not isinstance(h.args[6], bool)
                               and isinstance(h.args[6], int)
                               and h.args[6] >= 1)))
                if not ok:
                    raise PlanError(
                        "hybrid_rrf hint takes (text_column, "
                        "vector_column, id_column, 'term term ...', "
                        "query_id, positive_int_k[, positive_int_"
                        "pool])")
                row_hints.append(("hybrid_rrf", tuple(h.args)))
                continue
            if h.name == "priority_sample":
                if len(h.args) not in (3, 4) \
                        or not isinstance(h.args[0], str) \
                        or not isinstance(h.args[1], str) \
                        or isinstance(h.args[2], bool) \
                        or not isinstance(h.args[2], int) \
                        or h.args[2] < 1 \
                        or (len(h.args) == 4
                            and not isinstance(h.args[3], str)):
                    raise PlanError("priority_sample hint takes "
                                    "(id_column, weight_column, "
                                    "positive_int_k[, "
                                    "stratum_column])")
                row_hints.append(("priority_sample", tuple(h.args)))
                continue
            if h.name != "salt":
                raise PlanError(f"unknown hint {h.name!r} (supported: "
                                "salt(key, n), cap(group, id, k), "
                                "token_budget(id, tokens, budget), "
                                "mixture(domain, id, tokens, "
                                "'dom=w,...'), mixture_temperature("
                                "domain, id, tokens, weights, T), "
                                "priority_sample(id, weight, k"
                                "[, stratum]), sample(id, permille), "
                                "bm25(text, id, 'terms', k), "
                                "hybrid_rrf(text, vec, id, 'terms', "
                                "query_id, k[, pool]))")
            if len(h.args) != 2 or not isinstance(h.args[0], str) \
                    or isinstance(h.args[1], bool) \
                    or not isinstance(h.args[1], int) or h.args[1] < 1:
                raise PlanError(
                    "salt hint takes (key_column, positive_int_factor)")
            salt_specs[h.args[0].lower()] = h.args[1]

        # FROM
        prev_salt = self._salt_specs
        self._salt_specs = salt_specs
        where = sel.where
        try:
            if sel.from_ is None:
                df = self.catalog.spark.range(1).select()   # dual
            else:
                df, where = self._plan_from(sel.from_, where,
                                            snapshot_mode)
            if self._salt_specs:
                missing = ", ".join(sorted(self._salt_specs))
                raise PlanError(
                    f"salt hint key(s) {missing} matched no equi-join "
                    "in FROM (the key must appear in a JOIN's ON or "
                    "USING clause)")
        finally:
            self._salt_specs = prev_salt

        # WHERE (what the FROM's keyed joins left of it)
        if where is not None:
            df = df.filter(self._compile(where, df))

        # cap(group, id, k) / token_budget(id, tokens, budget): applied
        # AFTER the row filter and BEFORE aggregation/projection, in
        # written order, so aggregates summarize the cut corpus
        # ("stats over at most k docs per domain / the first B tokens")
        for kind, spec in row_hints:
            if kind == "cap":
                df = self._apply_cap_hint(df, *spec)
            elif kind == "mixture":
                df = self._apply_mixture_hint(df, *spec)
            elif kind == "mixture_temperature":
                df = self._apply_mixture_hint(df, *spec[:4],
                                              temperature=spec[4])
            elif kind == "priority_sample":
                df = self._apply_priority_sample_hint(df, *spec)
            elif kind == "sample":
                df = self._apply_sample_hint(df, *spec)
            elif kind == "bm25":
                df = self._apply_bm25_hint(df, *spec)
            elif kind == "hybrid_rrf":
                df = self._apply_hybrid_rrf_hint(df, *spec)
            else:
                df = self._apply_token_budget_hint(df, *spec)

        if sel.qualify is not None:
            self._check_qualify(sel)

        # DISTINCT evaluates BEFORE ORDER BY (ANSI): sorting first and
        # de-duplicating after would shuffle the order away — and with
        # LIMIT would return arbitrary rows.  Ordering defers until
        # after .distinct(), where the keys must be select-list
        # outputs (the DuckDB/ANSI restriction).
        defer_order = sel.distinct and bool(sel.order_by)
        prev_stream, self._select_stream = self._select_stream, stream
        try:
            if agg_ctx:
                df = self._plan_aggregate(sel, df, group_window_leaf,
                                          stream, order=not defer_order)
            else:
                df = self._plan_projection(sel, df, stream,
                                           order=not defer_order)
        finally:
            self._select_stream = prev_stream

        if sel.distinct:
            df = df.distinct()
            if defer_order:
                df = self._order_outputs(sel, df)
        df = _apply_limit_offset(df, self._lit_int(sel.limit),
                                 self._lit_int(sel.offset))
        return df

    def _order_outputs(self, sel: Select, df: DataFrame) -> DataFrame:
        """ORDER BY over the finished output frame (the DISTINCT
        path): keys must be select-list outputs — an alias, a bare
        output column name, or an ordinal."""
        lower = {c.lower(): c for c in df.columns}
        order_cols = []
        for o in sel.order_by:
            pos = _ordinal(o.expr)
            if pos is not None:
                if not 1 <= pos <= len(df.columns):
                    raise PlanError(
                        f"ORDER BY position {pos} is not in the select "
                        f"list (1..{len(df.columns)})")
                oc = self._col(df.columns[pos - 1])
            elif isinstance(o.expr, Col) and o.expr.qualifier is None \
                    and o.expr.name.lower() in lower:
                oc = self._col(lower[o.expr.name.lower()])
            else:
                raise PlanError(
                    "ORDER BY with SELECT DISTINCT must reference "
                    "select-list outputs (a name or 1-based position)")
            order_cols.append(_sorted_col(oc, o))
        return df.orderBy(*order_cols)

    def _check_window_func_positions(self, sel: Select) -> None:
        """ANSI position rules for analytic functions: SELECT items
        only (in an aggregating query they evaluate AFTER
        grouping/HAVING over the aggregated rows — _plan_aggregate's
        deferred win_specs).  WHERE/GROUP BY/HAVING evaluate before
        windows exist; ORDER BY can reference a window item's alias."""
        def has_win(exprs):
            return any(isinstance(x, WindowFunc)
                       for e in exprs if not isinstance(e, Star)
                       for x in walk_expr(e))

        def join_conds(rel):
            if isinstance(rel, Join):
                yield from join_conds(rel.left)
                yield from join_conds(rel.right)
                if rel.on is not None:
                    yield rel.on

        for pos, exprs in (("WHERE", [sel.where] if sel.where is not None
                            else []),
                           ("GROUP BY", sel.group_by),
                           ("HAVING", [sel.having] if sel.having is not None
                            else []),
                           ("ORDER BY", [o.expr for o in sel.order_by]),
                           ("a JOIN condition",
                            list(join_conds(sel.from_))
                            if sel.from_ is not None else [])):
            if has_win(exprs):
                raise PlanError(
                    f"window functions are not allowed in {pos} "
                    "(project them in a derived table first)")

    def _check_qualify(self, sel: Select) -> None:
        """QUALIFY (engine extension, DuckDB/Snowflake-style) filters on
        window-function results.  It must involve a window — either a
        window function in the predicate itself or a reference to a
        window-function select item's alias; anything else belongs in
        WHERE/HAVING.  On a stream the involved windows must all be
        running aggregates (_plan_streaming_over validates and raises
        the clear scope message otherwise) — ``qualify run_n <= k``
        is the streaming first-k-per-key cap."""
        win_aliases = {
            _item_name(item, i).lower()
            for i, item in enumerate(sel.items)
            if not isinstance(item.expr, Star)
            and _expr_contains_winfunc(item.expr)}
        for x in walk_expr(sel.qualify):
            if isinstance(x, WindowFunc):
                return
            if isinstance(x, Col) and x.binding is None \
                    and x.name.lower() in win_aliases:
                return
        raise PlanError(
            "QUALIFY requires a window function in its predicate or a "
            "reference to a window-function select item (use WHERE or "
            "HAVING to filter non-window results)")

    def _leaf_time_col(self, leaf) -> Optional[str]:
        """Name of the default event-time column for a windowed stream:
        the policy's ``on`` column, else catalog metadata
        event_time_col."""
        w: WindowSpec = leaf.window
        if w.size.on_col is not None:
            c = w.size.on_col
            return f"{c.binding}.{c.name}"
        if isinstance(leaf, TableRef) and self.catalog.has(leaf.name):
            meta = self.catalog.meta(leaf.name)
            if meta.event_time_col:
                return f"{leaf.binding}.{meta.event_time_col}"
        return None

    def _needs_aggregation(self, sel: Select) -> bool:
        if sel.group_by or sel.having is not None \
                or sel.grouping_sets is not None:
            return True
        return any(self._expr_has_agg(i.expr) for i in sel.items
                   if not isinstance(i.expr, Star))

    def _expr_has_agg(self, e) -> bool:
        return any(isinstance(x, FuncCall) and self.registry.is_aggregate(x.name)
                   for x in walk_expr(e))

    # --- non-aggregate projection ---

    def _plan_projection(self, sel: Select, df: DataFrame, stream: bool,
                         order: bool = True) -> DataFrame:
        if sel.qualify is not None:
            return self._plan_projection_qualify(sel, df, stream,
                                                 order=order)
        return self._route_streaming_over(
            sel, df, stream, [], lambda d: self._plan_projection_items(
                sel, d, order))

    def _route_streaming_over(self, sel: Select, df: DataFrame,
                              stream: bool, extra_exprs: list,
                              body) -> DataFrame:
        """Shared streaming-OVER routing for the plain and QUALIFY
        projection paths: collect window functions from the select
        items (plus ``extra_exprs``, e.g. the QUALIFY predicate),
        run the stateful pass, then compile ``body`` with the
        id()-keyed substitution map scoped to THIS select — ids
        recycle once an AST is collected, so a leaked entry could
        poison a later plan's window compile (the r9 review's bug
        class; one copy of the clear discipline lives here)."""
        if stream:
            wfs = [x for item in sel.items
                   if not isinstance(item.expr, Star)
                   for x in walk_expr(item.expr)
                   if isinstance(x, WindowFunc)]
            wfs += [x for e in extra_exprs if e is not None
                    for x in walk_expr(e) if isinstance(x, WindowFunc)]
            if wfs:
                df = self._plan_streaming_over(sel, df, wfs)
                try:
                    return body(df)
                finally:
                    self._stream_wf_cols = {}
        return body(df)

    def _plan_projection_items(self, sel: Select, df: DataFrame,
                               order: bool) -> DataFrame:
        cols: list[Column] = []
        out_names: list[str] = []
        for i, item in enumerate(sel.items):
            if isinstance(item.expr, Star):
                star_cols, star_names = self._expand_star(sel, item.expr)
                cols.extend(star_cols)
                out_names.extend(star_names)
            else:
                name = _item_name(item, i)
                cols.append(self._compile(item.expr, df).alias(name))
                out_names.append(name)
        return self._project_ordered(sel, df, cols, out_names, order)

    def _plan_projection_qualify(self, sel: Select, df: DataFrame,
                                 stream: bool,
                                 order: bool = True) -> DataFrame:
        """QUALIFY on a non-aggregating query.  ANSI/DuckDB evaluation
        order: every select item (and so every window function) is
        computed over the FULL WHERE output first, THEN the predicate
        filters, THEN DISTINCT/ORDER BY/LIMIT — a surviving row keeps
        the rank it had in the pre-filter partition.  Items materialize
        as hidden ``__s{i}`` columns of one select beside ``*`` (which
        keeps the input frame's columns and binding qualifiers available
        to the predicate);
        alias references in the predicate resolve to those hidden
        columns via _qualify_aliases, so the window is computed once.

        Scale shape: identical to the same query through a derived
        table — the window's hash shuffle on its partition keys, then a
        filter; no extra exchange for the QUALIFY itself.

        Streaming (r9): the involved window functions route through
        the stateful running_agg pass first (validated to be running
        aggregates there); the QUALIFY predicate then filters each
        emitted row on its running value — ``qualify count(*) over
        (...) <= k`` keeps the FIRST k rows per key, the streaming
        cap."""
        return self._route_streaming_over(
            sel, df, stream, [sel.qualify],
            lambda d: self._plan_projection_qualify_body(sel, d, order))

    def _plan_projection_qualify_body(self, sel: Select, df: DataFrame,
                                      order: bool) -> DataFrame:
        specs: list[tuple] = []          # ("star", Star) | ("col", (hid, out))
        alias_map: dict[str, str] = {}
        items: list[Column] = []
        for i, item in enumerate(sel.items):
            if isinstance(item.expr, Star):
                specs.append(("star", item.expr))
                continue
            name = _item_name(item, i)
            h = f"__s{i}"
            items.append(self._compile(item.expr, df).alias(h))
            specs.append(("col", (h, name)))
            alias_map.setdefault(name.lower(), h)
        qdf = df.select(self._col("*"), *items) if items else df
        prev = self._qualify_aliases
        self._qualify_aliases = alias_map
        try:
            pred = self._compile(sel.qualify, qdf)
        finally:
            self._qualify_aliases = prev
        qdf = qdf.withColumn("__qual", pred).filter(self._col("__qual"))

        cols: list[Column] = []
        out_names: list[str] = []
        for kind, payload in specs:
            if kind == "star":
                star_cols, star_names = self._expand_star(sel, payload)
                cols.extend(star_cols)
                out_names.extend(star_names)
            else:
                h, name = payload
                cols.append(self._col(h).alias(name))
                out_names.append(name)
        return self._project_ordered(sel, qdf, cols, out_names, order)

    def _project_ordered(self, sel: Select, df: DataFrame,
                         cols: list, out_names: list,
                         order: bool = True) -> DataFrame:
        """Final projection + ORDER BY shared by the plain and QUALIFY
        projection paths.  ORDER BY may reference projection aliases or
        any column of the incoming frame.  ``order=False`` skips the
        sort (the DISTINCT path orders after de-duplication)."""
        if not sel.order_by or not order:
            return df.select(*cols)

        hidden: list[Column] = []
        order_cols: list[Column] = []
        lower_names = {n.lower(): n for n in out_names}
        for k, o in enumerate(sel.order_by):
            pos = _ordinal(o.expr)
            if pos is not None:
                if not 1 <= pos <= len(out_names):
                    raise PlanError(
                        f"ORDER BY position {pos} is not in the select "
                        f"list (1..{len(out_names)})")
                oc = self._col(out_names[pos - 1])
            elif isinstance(o.expr, Col) and o.expr.qualifier is None \
                    and o.expr.name.lower() in lower_names:
                oc = self._col(lower_names[o.expr.name.lower()])
            else:
                h = f"__o{k}"
                hidden.append(self._compile(o.expr, df).alias(h))
                oc = self._col(h)
            order_cols.append(_sorted_col(oc, o))
        df = df.select(*cols, *hidden).orderBy(*order_cols)
        return df.drop(*[f"__o{k}" for k in range(len(sel.order_by))
                         if f"__o{k}" in df.columns])

    def _expand_star(self, sel: Select, star: Star):
        cols, names = [], []
        for leaf in visible_leaves(sel.from_):
            if star.qualifier is not None and \
                    leaf.binding.lower() != star.qualifier.lower():
                continue
            leaf_cols = (self.catalog.columns(leaf.name)
                         if isinstance(leaf, TableRef)
                         else self.resolver.output_names(leaf.query))
            for c in leaf_cols:
                cols.append(self._col(f"{leaf.binding}.{c}"))
                names.append(c)
        # score-adding row hints (SCORE_HINTS) append a column that
        # belongs to no relation leaf — an unqualified * includes it
        # (last, in written hint order, like the join that added it);
        # a qualified t.* stays leaf-only
        if star.qualifier is None:
            for h in sel.hints:
                sc = SCORE_HINTS.get(getattr(h, "name", None))
                if sc is not None:
                    cols.append(self._col(sc))
                    names.append(sc)
        return cols, names

    # --- aggregate path ---

    def _plan_aggregate(self, sel: Select, df: DataFrame,
                        window_leaf, stream: bool,
                        order: bool = True) -> DataFrame:
        if (sel.cube or sel.grouping_sets is not None) \
                and window_leaf is not None:
            raise PlanError(
                "CUBE/GROUPING SETS cannot combine with stream window "
                "specs (every grouping set would need the window key)")
        if stream and (
                sel.qualify is not None
                or any(_expr_contains_winfunc(it.expr)
                       for it in sel.items
                       if not isinstance(it.expr, Star))):
            # the streaming running-OVER pass (plain SELECTs only)
            # never routes through the aggregate path — without this
            # guard the compile would hit _compile_window_func's
            # scope message, which wrongly implies the form is
            # supported beside GROUP BY on a stream
            raise PlanError(
                "window functions / QUALIFY beside GROUP BY are not "
                "supported on streams (apply the running OVER to the "
                "aggregated stream through a derived table, or "
                "aggregate in batch)")
        group_exprs = list(sel.group_by)
        # ANSI ordinals: GROUP BY 1 groups on the first select item
        for i, g in enumerate(group_exprs):
            pos = _ordinal(g)
            if pos is None:
                continue
            if not 1 <= pos <= len(sel.items) \
                    or isinstance(sel.items[pos - 1].expr, Star):
                raise PlanError(
                    f"GROUP BY position {pos} is not a groupable "
                    f"select-list item (1..{len(sel.items)})")
            it = sel.items[pos - 1].expr
            if _expr_contains_winfunc(it) or self._expr_has_agg(it):
                raise PlanError(
                    f"GROUP BY position {pos} refers to an aggregate "
                    "or window item — group on plain expressions")
            group_exprs[i] = it
        g_names = [f"__g{i}" for i in range(len(group_exprs))]

        # stream-window grouping: transform df (adds __win/__idx/__trigger
        # columns) and collect extra grouping keys + output columns
        win_group: list[Column] = []
        win_out: list[tuple] = []
        if window_leaf is not None:
            spec = window_leaf.window
            from .streaming.windows import _axis
            is_session = spec.kind == "session"
            # session windows validate/compile in window_grouping (native
            # session_window on batch AND streams) — they must not fall
            # into the count/delta stateful routing
            if not is_session and stream \
                    and _axis(spec.size) == "count":
                # no rank-function emulation on streams: route through the
                # stateful operator when the query shape allows
                return self._stream_stateful_window_agg(
                    sel, df, window_leaf, axis="count")
            if not is_session and stream \
                    and _axis(spec.size) == "delta" \
                    and spec.every is not None:
                # sliding delta windows use a max-over-partition filter in
                # batch — streaming needs the stateful operator
                return self._stream_stateful_window_agg(
                    sel, df, window_leaf, axis="delta")
            if stream and _axis(spec.size) == "time":
                df = self._ensure_watermark(df, window_leaf, spec)
            df, win_group, win_out = window_grouping(
                df, spec, self._leaf_time_col(window_leaf),
                col=self._col, lit=self._lit)
            if spec.partition is not None:
                p = spec.partition
                group_exprs.append(p)
                g_names.append(f"__g{len(g_names)}")

        # collect aggregate calls from items / having / order-by
        agg_calls: list[FuncCall] = []

        def collect(e):
            for x in walk_expr(e):
                if isinstance(x, FuncCall) and self.registry.is_aggregate(x.name):
                    if not any(x is a for a in agg_calls):
                        agg_calls.append(x)

        for item in sel.items:
            if not isinstance(item.expr, Star):
                collect(item.expr)
        if sel.having is not None:
            collect(sel.having)
        if sel.qualify is not None:
            collect(sel.qualify)
        for o in sel.order_by:
            collect(o.expr)

        # A plain GROUP BY aggregates straight over its input:
        # groupBy(<key> AS __g{i}).agg(sum(<arg>)), so Catalyst places
        # every expression and no Project is built for it.  ROLLUP,
        # CUBE and GROUPING SETS project the keys and arguments as
        # hidden columns first: inline, an argument would be evaluated
        # after the Expand, once per grouping set, and grouping(<key>)
        # would not match an aliased key.  Two more shapes project:
        # a DISTINCT aggregate other than count/sum has no Column
        # builder, so its SQL text names its argument's hidden column;
        # and a nondeterministic key must be computed once, because
        # an item that repeats it inline would draw its own seed
        # (`select floor(rand() * 3) .. group by floor(rand() * 3)`).
        project = sel.rollup or sel.cube \
            or sel.grouping_sets is not None \
            or any(_named_distinct(c) for c in agg_calls) \
            or any(_nondeterministic(g) for g in group_exprs)
        pre_cols: list[Column] = [self._col("*")]

        def hidden(c: Column, name: str) -> Column:
            if not project:
                return c
            pre_cols.append(c.alias(name))
            return self._col(name)

        # one Column per key, shared by groupBy and every aggregate-
        # context reference to it
        key_cols = [hidden(self._compile(g, df), g_names[i])
                    for i, g in enumerate(group_exprs)]
        # literal arguments stay literals (percentile fractions,
        # accuracy knobs etc. must be foldable for Catalyst)
        agg_args: dict[int, Optional[list]] = {}
        for j, call in enumerate(agg_calls):
            if not call.args or isinstance(call.args[0], Star):
                agg_args[id(call)] = None           # count(*)
                continue
            agg_args[id(call)] = [
                self._compile(arg, df) if isinstance(arg, (Lit, Param))
                else hidden(self._compile(arg, df),
                            f"__a{j}_{k}" if k else f"__a{j}")
                for k, arg in enumerate(call.args)]

        src = df.select(*pre_cols) if project else df
        group_cols = (key_cols if project else
                      [c.alias(n) for c, n in zip(key_cols, g_names)]) \
            + win_group
        if sel.rollup:
            gdf = src.rollup(*group_cols)
        elif sel.cube:
            gdf = src.cube(*group_cols)
        elif sel.grouping_sets is not None:
            # DataFrame.groupingSets (Spark 4): sets are index lists
            # into the parsed union of grouping keys — same partial→
            # final hash-agg shape as ROLLUP/CUBE, one Expand node
            gdf = src.groupingSets(
                [[key_cols[i] for i in idxs]
                 for idxs in sel.grouping_sets],
                *group_cols)
        else:
            gdf = src.groupBy(*group_cols)

        # compile output/having/order in aggregate context
        agg_exprs: list[Column] = []
        # (column of the aggregated frame, output name, whether that
        # column already carries the output name)
        out_specs: list[tuple[Column, str, bool]] = []
        ctx = _AggContext(self, group_exprs, key_cols, agg_calls, agg_args)

        win_specs: list[tuple[str, object]] = []   # (hidden_name, expr)
        for i, item in enumerate(sel.items):
            if isinstance(item.expr, Star):
                raise PlanError("SELECT * cannot be combined with GROUP BY")
            name = _item_name(item, i)
            if _expr_contains_winfunc(item.expr):
                # analytic item in an aggregating query: evaluated
                # AFTER grouping/HAVING (ANSI order) over the
                # aggregated frame — deferred below.  Hidden unique
                # name: two unaliased same-function items must not
                # collide in the select that adds them
                h = f"__win{i}"
                win_specs.append((h, item.expr))
                out_specs.append((self._col(h), name, False))
                continue
            agg_exprs.append(ctx.compile(item.expr).alias(name))
            out_specs.append((self._col(name), name, True))
        # materialize every aggregate call a deferred window item — or
        # the QUALIFY predicate — uses (walk_expr skips the window's
        # OWN function, so `sum(x) over` never lands here — only true
        # group aggregates like the sum(x) in
        # `rank() over (order by sum(x))`)
        win_agg_cols: list[tuple[FuncCall, str]] = []
        post_exprs = [wexpr for _, wexpr in win_specs]
        if sel.qualify is not None:
            post_exprs.append(sel.qualify)
        for wexpr in post_exprs:
            for x in walk_expr(wexpr):
                if isinstance(x, FuncCall) \
                        and self.registry.is_aggregate(x.name) \
                        and not any(x == c for c, _ in win_agg_cols):
                    h = f"__w{len(win_agg_cols)}"
                    agg_exprs.append(ctx.compile(x).alias(h))
                    win_agg_cols.append((x, h))
        # window bounds (window_start/window_end, ...) are expressions
        # over the aggregated window key, computed in the final select
        for wname, wcol in win_out:
            out_specs.append((wcol, wname, False))

        having_name = None
        if sel.having is not None:
            having_name = "__having"
            agg_exprs.append(ctx.compile(sel.having).alias(having_name))

        order_specs: list[tuple[Column, OrderItem]] = []
        # ORDER BY aliases resolve to the column holding each output
        # (the item itself for plain items, __win{i} for deferred
        # window items, the bound expression for window bounds)
        lower_names = {out.lower(): c for c, out, _ in out_specs}
        for k, o in enumerate(sel.order_by if order else []):
            pos = _ordinal(o.expr)
            if pos is not None:
                # items were appended to out_specs first, so position
                # k maps to out_specs[k-1] even after win_out entries
                if not 1 <= pos <= len(sel.items):
                    raise PlanError(
                        f"ORDER BY position {pos} is not in the select "
                        f"list (1..{len(sel.items)})")
                order_specs.append((out_specs[pos - 1][0], o))
            elif isinstance(o.expr, Col) and o.expr.qualifier is None \
                    and o.expr.name.lower() in lower_names:
                order_specs.append(
                    (lower_names[o.expr.name.lower()], o))
            else:
                h = f"__ord{k}"
                agg_exprs.append(ctx.compile(o.expr).alias(h))
                order_specs.append((self._col(h), o))

        if not agg_exprs:
            agg_exprs = [F.count(self._lit(1)).alias("__cnt")]

        res = gdf.agg(*agg_exprs)

        if having_name:
            res = res.filter(self._col(having_name))
        if win_specs or sel.qualify is not None:
            post = _PostAggContext(self, group_exprs, g_names,
                                   win_agg_cols, res)
            if win_specs:
                res = res.select(self._col("*"),
                                 *[post.compile(wexpr).alias(h)
                                   for h, wexpr in win_specs])
            if sel.qualify is not None:
                # QUALIFY over an aggregating query: evaluated after
                # grouping/HAVING and the deferred window items, before
                # ORDER BY/LIMIT (ANSI order).  Alias references
                # resolve to the column holding each output.
                post.alias_map = lower_names
                try:
                    pred = post.compile(sel.qualify)
                finally:
                    post.alias_map = None
                res = res.withColumn("__qual", pred) \
                    .filter(self._col("__qual"))
        if order_specs:
            res = res.orderBy(*[_sorted_col(c, o)
                                for c, o in order_specs])
        if not group_cols and sel.qualify is None \
                and len(agg_exprs) == len(out_specs) \
                and all(named for _, _, named in out_specs):
            # a global aggregate of plain items: its columns are the
            # outputs, in order, so a final select would be a no-op
            return res
        return res.select(*[c if named else c.alias(out)
                            for c, out, named in out_specs])

    # ------------------------------------------------------------------
    # INSERT (append semantics; flinkdsl/ast.scala:154-161,
    # fsql/parser.scala:268-277 — the reference parses both forms)
    # ------------------------------------------------------------------

    def plan_insert(self, ins: Insert) -> DataFrame:
        target = self.catalog.get(ins.table)
        target_cols = target.columns
        lower = {c.lower(): c for c in target_cols}
        cols = [lower[c.lower()] for c in (ins.columns or target_cols)]

        if ins.values is not None:
            rows = [tuple(self._const_value(e) for e in row)
                    for row in ins.values]
            schema = target.select(*cols).schema
            new = self.catalog.spark.createDataFrame(rows, schema=schema)
        else:
            new = self.plan_query(ins.query).toDF(*cols)

        dtypes = dict(target.dtypes)
        for c in target_cols:
            if c not in cols:
                new = new.withColumn(c, self._lit(None).cast(dtypes[c]))
        updated = target.unionByName(new.select(*target_cols))
        self.catalog.register(ins.table, updated)
        return updated

    def plan_update(self, u: Update) -> DataFrame:
        """UPDATE t SET c = e, ... [WHERE p] on a catalog relation.

        The reference grammar accepts UPDATE but its snapshot never
        executes it (flinkdsl/parser.scala:55-59); here it executes
        against the session catalog like INSERT does (planner
        re-registers the transformed relation).  Durable table mutation
        at scale belongs to a transactional table format (Delta/
        Iceberg) — the session-relation semantics are the engine's
        documented choice (SURVEY.md §7.0(5)).

        SQL semantics held: every assignment right-hand side sees
        PRE-update values (one select over the original relation, not
        chained withColumn), and a NULL predicate leaves the row
        unchanged."""
        if len(u.tables) != 1:
            raise UnsupportedError("multi-table UPDATE is not supported")
        if u.order_by or u.limit is not None:
            raise UnsupportedError(
                "UPDATE ... ORDER BY/LIMIT is not supported")
        name = u.tables[0].name
        target = self.catalog.get(name)
        if target.isStreaming:
            raise PlanError("cannot UPDATE a streaming relation")
        cond = (self._compile(u.where, target)
                if u.where is not None else self._lit(True))
        dtypes = dict(target.dtypes)
        lower = {c.lower(): c for c in target.columns}
        assigned: dict[str, Column] = {}
        for a in u.assignments:
            col = lower.get(a.col.name.lower())
            if col is None:
                raise PlanError(
                    f"unknown column {a.col.name!r} in UPDATE")
            if col in assigned:
                raise PlanError(
                    f"column {col!r} assigned twice in UPDATE")
            assigned[col] = self._compile(a.value, target)
        updated = target.select(*[
            (F.when(cond, assigned[c].cast(dtypes[c]))
              .otherwise(self._col(c)).alias(c)) if c in assigned
            else self._col(c)
            for c in target.columns])
        self.catalog.register(name, updated)
        return updated

    def plan_delete(self, d: Delete) -> DataFrame:
        """DELETE FROM t [WHERE p] on a catalog relation (see
        plan_update for the execution-model notes).  Rows are removed
        only when the predicate is TRUE; NULL keeps the row, matching
        SQL."""
        if len(d.tables) != 1:
            raise UnsupportedError("multi-table DELETE is not supported")
        name = d.tables[0].name
        target = self.catalog.get(name)
        if target.isStreaming:
            raise PlanError("cannot DELETE from a streaming relation")
        if d.where is None:
            remaining = target.filter(self._lit(False))
        else:
            cond = self._compile(d.where, target)
            remaining = target.filter(~F.coalesce(cond, self._lit(False)))
        self.catalog.register(name, remaining)
        return remaining

    def plan_merge(self, m) -> DataFrame:
        """MERGE INTO t USING s ON cond WHEN [NOT] MATCHED ... —
        the upsert completing the executable-DML family (engine
        extension, r11; same session-relation execution model as
        UPDATE/DELETE, SURVEY §7.0(5)).

        Semantics (ANSI): matched target rows get the UPDATE
        assignments (RHS sees PRE-merge target values and the
        matching source row) or are DELETEd; source rows matching no
        target row INSERT.  A NULL matched-/not-matched-condition
        behaves as FALSE (row unchanged / not inserted).  The ANSI
        cardinality rule is enforced: a target row matched by more
        than one DISTINCT source value-tuple raises (duplicate source
        rows with IDENTICAL values are collapsed first — they assign
        the same result, so they are not a violation).

        The cardinality check is ONE eager aggregate job at plan time
        (the token_budget plan-time-collect precedent, DIALECT.md) —
        acceptable because MERGE mutates a session relation, not the
        100 TB scan path; the merge itself is two joins (left for the
        update side, left-anti for the insert side) on the ON keys.

        Scope (r12): any number of clauses of each kind, evaluated in
        statement order — per row the FIRST clause of the applicable
        kind whose condition holds fires (WHEN MATCHED / BY SOURCE:
        UPDATE or DELETE; WHEN NOT MATCHED: INSERT ... VALUES); a
        conditionless clause must be the last of its kind (parser
        rejects unreachable ones).  Subqueries inside merge
        expressions are rejected."""
        from .ast_nodes import (DerivedTable, Exists, InSubquery, Merge,
                                QuantifiedCmp, ScalarSubquery, walk_expr)

        name = m.target.name
        target = self.catalog.get(name)
        if target.isStreaming:
            raise PlanError("cannot MERGE into a streaming relation")
        ta = (m.target.alias or m.target.name).lower()
        if isinstance(m.source, DerivedTable):
            src_df = self.plan_query(m.source.query)
            sa = m.source.alias.lower()
        else:
            src_df = self.catalog.get(m.source.name)
            sa = (m.source.alias or m.source.name).lower()
        if src_df.isStreaming:
            raise PlanError("MERGE USING a streaming relation is not "
                            "supported")
        if ta == sa:
            raise PlanError(
                f"MERGE target and source need distinct names/aliases "
                f"(both are {ta!r})")

        tcols = {c.lower(): c for c in target.columns}
        scols = {c.lower(): c for c in src_df.columns}
        dtypes = dict(target.dtypes)

        def qualify(expr, what: str, sides=("t", "s")):
            """Bind every Col to its side; unqualified names resolve
            to whichever allowed side uniquely has them."""
            if expr is None:
                return None
            for x in walk_expr(expr):
                if isinstance(x, (ScalarSubquery, InSubquery, Exists,
                                  QuantifiedCmp)):
                    raise PlanError(
                        f"subqueries are not supported in MERGE {what}")
                if not isinstance(x, Col) or x.binding is not None:
                    continue
                q = x.qualifier.lower() if x.qualifier else None
                nm = x.name.lower()
                if q is None:
                    in_t = "t" in sides and nm in tcols
                    in_s = "s" in sides and nm in scols
                    if in_t and in_s:
                        raise PlanError(
                            f"column {x.name!r} is ambiguous in MERGE "
                            f"{what} — qualify it with {ta!r} or {sa!r}")
                    if in_t:
                        x.binding = ta
                    elif in_s:
                        x.binding = sa
                    else:
                        raise PlanError(
                            f"unknown column {x.name!r} in MERGE "
                            f"{what}")
                elif q == ta:
                    if "t" not in sides:
                        raise PlanError(
                            f"MERGE {what} cannot reference target "
                            f"column {x.name!r}")
                    if nm not in tcols:
                        raise PlanError(
                            f"unknown column {x.name!r} in MERGE "
                            f"target {name!r}")
                    x.binding = ta
                elif q == sa:
                    if "s" not in sides:
                        raise PlanError(
                            f"MERGE {what} cannot reference source "
                            f"column {x.name!r}")
                    if nm not in scols:
                        raise PlanError(
                            f"unknown column {x.name!r} in MERGE "
                            f"source")
                    x.binding = sa
                else:
                    raise PlanError(
                        f"unknown qualifier {x.qualifier!r} in MERGE "
                        f"{what} (sides are {ta!r} and {sa!r})")
            return expr

        cond = self._compile(qualify(m.on, "ON"), None)
        from pyspark.sql.types import MapType
        # only the WHEN MATCHED path deduplicates/aggregates the
        # source (left-join fanout + cardinality check); by-source
        # plans semi/anti joins that compare only the ON keys and
        # never fan out, and insert-only merges use one anti join —
        # neither needs the dropDuplicates shuffle or the map guard
        needs_dedup = bool(m.matched)
        if needs_dedup and any(isinstance(f.dataType, MapType)
                               for f in src_df.schema):
            # dropDuplicates / count_distinct (the dedup + cardinality
            # machinery below) cannot compare map values — reject with
            # a clean message instead of Spark's raw AnalysisException
            raise PlanError(
                "MERGE USING a source with map-typed columns is not "
                "supported with WHEN MATCHED clauses — drop them from "
                "the source or cast to a comparable type")
        if m.matched and any(
                isinstance(f.dataType, MapType)
                for f in target.schema):
            # the cardinality check groups by every target column —
            # map values are not orderable/groupable either
            raise PlanError(
                "MERGE with a WHEN MATCHED clause into a target with "
                "map-typed columns is not supported — the cardinality "
                "check cannot compare map values")
        # duplicate source rows with identical values assign identical
        # results — collapse them so the left join cannot fan out
        # (insert-only merges skip the dedup: the anti join cannot
        # fan out target rows, and INSERT keeps ANSI multiset
        # semantics for duplicate source rows)
        srcd = src_df.dropDuplicates() if needs_dedup else src_df

        if m.matched:
            # ANSI cardinality rule (eager, plan-time — see docstring)
            viol = (target.alias(ta)
                    .join(srcd.alias(sa), cond, "inner")
                    .groupBy(*[self._col(f"{ta}.{c}") for c in target.columns])
                    .agg(F.count_distinct(F.struct(
                        *[self._col(f"{sa}.{c}") for c in srcd.columns]))
                        .alias("__n"))
                    .filter(self._col("__n") > 1).limit(1).count())
            if viol:
                raise PlanError(
                    "MERGE cardinality violation: a target row matches "
                    "more than one distinct source row — deduplicate "
                    "the source on the ON keys first")

        mk = "__mg_hit"
        while mk in srcd.columns:
            mk += "_"

        def compile_assigns(assigns, what: str, sides=("t", "s")):
            if assigns == "*":
                # UPDATE SET * (r12, the Delta-style shorthand):
                # every target column takes its SAME-NAMED source
                # column; columns the source lacks keep their target
                # value (expansion over the name intersection)
                if "s" not in sides:
                    raise PlanError(
                        "UPDATE SET * is not available in WHEN NOT "
                        "MATCHED BY SOURCE — there is no source row "
                        "to copy from")
                star = {tcols[n]: self._col(f"{sa}.{scols[n]}")
                        for n in tcols if n in scols}
                if not star:
                    raise PlanError(
                        "UPDATE SET *: no target column matches a "
                        "source column by name")
                return star
            out: dict[str, Column] = {}
            for a in assigns:
                col = tcols.get(a.col.name.lower())
                if col is None or (
                        a.col.qualifier
                        and a.col.qualifier.lower() != ta):
                    raise PlanError(
                        f"MERGE SET target {a.col.name!r} is not a "
                        f"column of {name!r}")
                if col in out:
                    raise PlanError(
                        f"column {col!r} assigned twice in MERGE")
                out[col] = self._compile(
                    qualify(a.value, what, sides=sides), None)
            return out

        _BYS = "WHEN NOT MATCHED BY SOURCE"

        def ordered_preds(clauses, base, what, sides):
            """ANSI first-true-wins predicates for an ordered clause
            list: pred_i = base AND cond_i AND no-earlier-cond-true.
            A NULL condition behaves as FALSE (coalesce), so every
            predicate is a non-NULL boolean and the preds of one kind
            are mutually exclusive by construction."""
            preds, fired = [], self._lit(False)
            for cl in clauses:
                cond_ast = cl[-1]
                c = (F.coalesce(self._compile(
                        qualify(cond_ast, what, sides=sides), None),
                        self._lit(False))
                     if cond_ast is not None else self._lit(True))
                preds.append(base & c & ~fired)
                fired = fired | c
            return preds

        def action_cases(clauses, preds, label, sides):
            """Fold delete/update clauses into (keep-predicate,
            per-column CASE arms).  Arm order across kinds is
            irrelevant: the preds are mutually exclusive."""
            keep, cases = self._lit(True), {}
            for (knd, assigns, _c), pred in zip(clauses, preds):
                if knd == "delete":
                    keep = keep & ~pred
                else:
                    for c, v in compile_assigns(assigns, label,
                                                sides=sides).items():
                        cases.setdefault(c, []).append((pred, v))
            return keep, cases

        def case_select(df_in, keep, cases):
            def col_expr(c):
                e = None
                for pred, v in cases.get(c, []):
                    w = v.cast(dtypes[c])
                    e = F.when(pred, w) if e is None else e.when(pred, w)
                base = self._col(f"{ta}.{c}")
                return (base if e is None
                        else e.otherwise(base)).alias(c)
            return (df_in.filter(keep)
                    .select(*[col_expr(c) for c in target.columns]))

        if m.matched:
            joined = (target.alias(ta)
                      .join(srcd.withColumn(mk, self._lit(True)).alias(sa),
                            cond, "left"))
            matched = self._col(f"{sa}.{mk}").isNotNull()
            mkeep, mcases = action_cases(
                m.matched,
                ordered_preds(m.matched, matched, "WHEN MATCHED",
                              ("t", "s")),
                "SET", ("t", "s"))
            # by-source expressions see the TARGET side only
            bkeep, bcases = action_cases(
                m.by_source,
                ordered_preds(m.by_source, ~matched, _BYS, ("t",)),
                f"{_BYS} SET", ("t",))
            for c, arms in bcases.items():
                mcases.setdefault(c, []).extend(arms)
            updated = case_select(joined, mkeep & bkeep, mcases)
        elif m.by_source:
            # no matched clause => no cardinality check ran, so avoid
            # the left-join fanout entirely: matched target rows pass
            # through a semi join untouched, unmatched ones transform
            # after an anti join (by-source never reads source values)
            mt = (target.alias(ta).join(srcd.alias(sa), cond,
                                        "left_semi"))
            un = (target.alias(ta).join(srcd.alias(sa), cond,
                                        "left_anti"))
            bkeep, bcases = action_cases(
                m.by_source,
                ordered_preds(m.by_source, self._lit(True), _BYS, ("t",)),
                f"{_BYS} SET", ("t",))
            updated = mt.unionByName(
                case_select(un, bkeep, bcases)
                .select(*[self._col(c) for c in target.columns]))
        else:
            updated = target

        result = updated
        if m.not_matched:
            clause_vals: list[dict] = []
            for icols, iexprs, _nmcond in m.not_matched:
                if icols == "*":
                    # INSERT * (r12): every source column lands in
                    # its same-named target column, the rest NULL —
                    # pre-compiled Columns, not ASTs (ins_expr
                    # branches on the type)
                    star = {tcols[n]: self._col(f"{sa}.{scols[n]}")
                            for n in tcols if n in scols}
                    if not star:
                        raise PlanError(
                            "INSERT *: no source column matches a "
                            "target column by name")
                    clause_vals.append(star)
                    continue
                if icols is None:
                    icols = list(target.columns)
                else:
                    bad = [c for c in icols if c.lower() not in tcols]
                    if bad:
                        raise PlanError(
                            f"unknown INSERT column(s) "
                            f"{', '.join(bad)} in "
                            f"MERGE target {name!r}")
                    icols = [tcols[c.lower()] for c in icols]
                if len(iexprs) != len(icols):
                    raise PlanError(
                        f"MERGE INSERT has {len(iexprs)} values for "
                        f"{len(icols)} columns")
                if len(set(icols)) != len(icols):
                    dup = next(c for c in icols if icols.count(c) > 1)
                    raise PlanError(
                        f"column {dup!r} listed twice in MERGE INSERT")
                clause_vals.append(dict(zip(icols, iexprs)))
            unmatched = (src_df.alias(sa)
                         .join(target.alias(ta), cond, "left_anti"))
            # insert conditions see the SOURCE side only
            npreds = ordered_preds(m.not_matched, self._lit(True),
                                   "WHEN NOT MATCHED", ("s",))
            fire_any = npreds[0]
            for p in npreds[1:]:
                fire_any = fire_any | p
            unmatched = unmatched.filter(fire_any)

            def ins_expr(c):
                e = None
                for by_col, pred in zip(clause_vals, npreds):
                    raw = by_col.get(c)
                    if raw is None:
                        v = self._lit(None).cast(dtypes[c])
                    elif isinstance(raw, Column):   # INSERT * path
                        v = raw.cast(dtypes[c])
                    else:
                        v = self._compile(
                            qualify(raw, "INSERT", sides=("s",)),
                            None).cast(dtypes[c])
                    e = F.when(pred, v) if e is None else e.when(pred, v)
                # the fire_any filter guarantees one arm is taken
                return e.alias(c)
            inserts = unmatched.select(
                *[ins_expr(c) for c in target.columns])
            result = updated.unionByName(inserts)

        self.catalog.register(name, result)
        return result

    def _const_value(self, e):
        """Evaluate a constant expression in VALUES position."""
        if isinstance(e, Lit):
            return e.value
        if isinstance(e, Param):
            return self._bind_param(e)
        if isinstance(e, UnOp) and e.op == "-":
            return -self._const_value(e.operand)
        raise PlanError("INSERT VALUES must be literals or parameters")

    # ------------------------------------------------------------------
    # relations
    # ------------------------------------------------------------------

    def _apply_tablesample(self, df: DataFrame, rel) -> DataFrame:
        """``TABLESAMPLE(id_col, permille)`` relation suffix: the
        sample hint's deterministic hash-residue membership (seeded
        60-bit md5, ``hash % 1000 < permille``) applied at the
        RELATION — before any join, WHERE, or aggregation — so one
        side of a join can be subsampled reproducibly ("join orders
        against a 10% customer sample").  Same cross-engine premises
        as the hint (q91): fixed md5 + seed 42, NULL ids never
        sampled, membership independent of sibling rows — a pure
        per-row filter, no shuffle, no state, streaming-safe."""
        spec = getattr(rel, "sample", None)
        if spec is None:
            return df
        colname, permille = spec
        lower = {c.lower(): c for c in df.columns}
        real = lower.get(colname.lower())
        if real is None:
            raise PlanError(
                f"TABLESAMPLE column {colname!r} not in relation "
                f"{rel.binding!r} ({', '.join(df.columns)})")
        return df.filter(
            self._md5_hash(self._col(f"{rel.binding}.{real}"), 42)
            % 1000 < permille)

    def _plan_from(self, rel, where, snapshot: bool):
        """A FROM clause and the WHERE conjuncts its joins take over:
        ``(frame, rest of WHERE or None)``.

        A comma (or CROSS JOIN) list with WHERE conjuncts between its
        relations is planned as keyed joins, in the order Catalyst's
        ``ReorderJoin`` picks for a cross product under a filter:
        start from the first relation, then take the first remaining
        one that a conjunct ties to the relations joined so far (the
        first remaining one if none is tied, as a cross join).  Each
        join's ON is its equalities between one relation's columns
        and the other's.  Non-equi, OR'd and single-relation
        conjuncts stay in the returned WHERE, and the optimizer
        pushes them down or into the joins as before.  The optimized
        plan is the one Spark SQL gives the same text (a cross product
        under one filter there), apart from the order of conjuncts
        inside a join condition; the plan built is keyed joins, not a
        cross product the optimizer must turn into them.  Windowed
        co-trigger joins, and a WHERE with a nondeterministic
        conjunct (which Catalyst never reorders under), plan as
        written."""
        units: list = []
        node = rel
        while isinstance(node, Join) and node.kind == "cross" \
                and node.on is None and node.using is None:
            units.insert(0, node.right)
            node = node.left
        units.insert(0, node)
        if where is None or len(units) < 2 \
                or any(self._has_cowin(u, snapshot) for u in units) \
                or _nondeterministic(where):
            return self._plan_relation(rel, snapshot), where
        owner = {leaf.binding.lower(): i for i, u in enumerate(units)
                 for leaf in relation_leaves(u)}

        def owners(e) -> Optional[set]:
            """The units ``e`` reads, None if it reads a column bound
            outside them."""
            got = {owner.get(x.binding) for x in walk_expr(e)
                   if isinstance(x, Col)}
            return None if None in got else got

        def keyed(c) -> bool:
            """An equality between one unit's columns and another's."""
            if not (isinstance(c, BinOp) and c.op == "="):
                return False
            l, r = owners(c.left), owners(c.right)
            return l is not None and r is not None \
                and len(l) == len(r) == 1 and l != r

        conjuncts = list(_conjuncts(where))
        ties = [(c, owners(c)) for c in conjuncts]
        ties = [(c, u) for c, u in ties if u is not None and len(u) > 1]
        df = self._plan_relation(units[0], snapshot)
        joined, rest, used = {0}, list(range(1, len(units))), set()
        while rest:
            nxt = next((r for r in rest
                        if any(r in u and u <= joined | {r}
                               for _, u in ties)), rest[0])
            rest.remove(nxt)
            joined.add(nxt)
            right = self._plan_relation(units[nxt], snapshot)
            on = [c for c, u in ties
                  if nxt in u and u <= joined and keyed(c)]
            if on:
                used.update(id(c) for c in on)
                df = df.join(right, on=[self._compile(c, None) for c in on],
                             how="inner")
            else:
                df = df.crossJoin(right)
        kept = [c for c in conjuncts if id(c) not in used]
        return df, functools.reduce(
            lambda a, b: BinOp("and", a, b), kept) if kept else None

    def _plan_relation(self, rel, snapshot: bool = False) -> DataFrame:
        if isinstance(rel, TableRef):
            df = self.catalog.aliased(rel.name, rel.binding)
            if self.catalog.has(rel.name) \
                    and self.catalog.meta(rel.name).stateful \
                    and self._is_stream(rel):
                # a derived view whose plan already carries a stateful
                # pass (StreamMeta.stateful): count every leaf use
                # toward the one-pass limit so a second pass layered
                # over it rejects at plan time (round-10 ADVICE)
                self._stateful_passes += 1
            if snapshot and rel.window is not None:
                df = self._apply_snapshot_window(df, rel)
            return self._apply_tablesample(df, rel)
        if isinstance(rel, DerivedTable):
            sub = self.plan_query(rel.query).alias(rel.binding)
            if snapshot and rel.window is not None:
                sub = self._apply_snapshot_window(sub, rel)
            return self._apply_tablesample(sub, rel)
        if isinstance(rel, Join):
            left = self._plan_relation(rel.left, snapshot)
            right = self._plan_relation(rel.right, snapshot)
            lw, rw = self._cowin_name(rel.left), self._cowin_name(rel.right)
            co_cond = None
            if self._has_cowin(rel.left, snapshot) \
                    and self._has_cowin(rel.right, snapshot):
                # streaming windowed join: equality of co-trigger windows
                # gives Spark a bounded-state stream-stream join
                co_cond = self._col(lw) == self._col(rw)
            if rel.kind == "cross" and rel.on is None and rel.using is None:
                if co_cond is not None:
                    return (left.join(right, on=co_cond, how="inner")
                            .drop(lw, rw))
                return left.crossJoin(right)
            how = {"inner": "inner", "left": "left", "right": "right",
                   "full": "full", "cross": "inner",
                   "semi": "left_semi", "anti": "left_anti"}[rel.kind]
            salt = self._match_salt_hint(rel)
            if salt is not None and co_cond is not None:
                raise PlanError(
                    "salt hint is not supported on windowed stream joins")
            if salt is not None and how not in ("inner", "left"):
                # (semi/anti included: duplicate-per-salt would break
                # their exactly-once existence semantics)
                raise PlanError(
                    "salt hint preserves only inner/left join semantics "
                    "(a right/full outer would emit each unmatched "
                    "right row once per salt)")
            if rel.using is not None:
                if co_cond is not None:
                    raise PlanError(
                        "windowed stream joins need an ON predicate "
                        "(USING would drop the window columns)")
                if salt is not None:
                    _key, n = salt
                    from .skew import salted_join
                    return salted_join(left, right, list(rel.using),
                                       salt=n, how=how)
                return left.join(right, on=list(rel.using), how=how)
            if rel.on is None:
                raise PlanError(f"{rel.kind} JOIN requires ON or USING")
            if salt is not None:
                return self._salted_on_join(rel, left, right, how,
                                            salt[1])
            cond = self._compile_join_cond(rel.on, left, right)
            if co_cond is not None:
                cond = cond & co_cond
            joined = left.join(right, on=cond, how=how)
            if co_cond is not None:
                joined = joined.drop(lw, rw)
            return joined
        raise PlanError(f"cannot plan relation {type(rel).__name__}")

    def _stream_stateful_window_agg(self, sel: Select, df: DataFrame,
                                    leaf, axis: str) -> DataFrame:
        """FSQL count/delta-window aggregation on a STREAM: compile to
        the stateful operators (streaming/stateful.py).

        The stateful op evaluates the simple sum/count/min/max/avg calls
        (the reference's entire aggregate surface) over plain numeric
        columns; projection items and HAVING may be arbitrary scalar
        expressions over those calls and the grouping keys — agg calls
        are swapped for references to the stateful outputs and the rest
        compiles as a normal post-projection/filter.  count(...) is cast
        back to long; other aggregates are double; output carries
        window_no (count axis) / trigger (delta axis) like the batch
        emulation."""
        from .streaming.stateful import count_window_agg, delta_window_agg

        spec: WindowSpec = leaf.window
        keys: list[str] = []
        for g in sel.group_by:
            if not isinstance(g, Col):
                raise PlanError(
                    "streaming count-window GROUP BY supports plain "
                    "columns only")
            keys.append(g.name)
        if spec.partition is not None and spec.partition.name not in keys:
            keys.append(spec.partition.name)
        if sel.order_by:
            raise PlanError("ORDER BY is not supported on streaming "
                            "count windows (unbounded result)")
        if axis == "count" and spec.every is not None and \
                (spec.every.unit is not None
                 or spec.every.on_col is not None):
            raise PlanError("a count-based window needs a count-based "
                            "`every` (no unit / `on` column)")
        if axis == "delta" and spec.every.unit is not None:
            raise PlanError("a delta window's `every` must be a plain "
                            "numeric step (optionally `on` the same "
                            "column)")

        # harvest aggregate calls from items + having; map each distinct
        # call to a stateful output column
        aggs: list[tuple] = []
        call_alias: dict[int, str] = {}
        count_aliases: set = set()
        needs_ones = False

        def harvest(e):
            nonlocal needs_ones
            for x in walk_expr(e):
                if not (isinstance(x, FuncCall)
                        and self.registry.is_aggregate(x.name)):
                    continue
                if id(x) in call_alias:
                    continue
                fn = x.name.lower()
                if fn not in ("sum", "count", "min", "max", "avg"):
                    raise PlanError(
                        f"streaming count windows support "
                        f"sum/count/min/max/avg, got {fn!r}")
                alias = f"__sa{len(call_alias)}"
                if not x.args or isinstance(x.args[0], Star):
                    needs_ones = True
                    aggs.append(("count", "__ones", alias))
                    count_aliases.add(alias)
                elif isinstance(x.args[0], Col):
                    aggs.append((fn, x.args[0].name, alias))
                    if fn == "count":
                        count_aliases.add(alias)
                else:
                    raise PlanError(
                        "streaming count-window aggregates take a plain "
                        "column argument")
                call_alias[id(x)] = alias

        for item in sel.items:
            if isinstance(item.expr, Star):
                raise PlanError("SELECT * cannot be combined with a "
                                "streaming count-window aggregation")
            harvest(item.expr)
        if sel.having is not None:
            harvest(sel.having)
        if not aggs:
            raise PlanError("streaming count-window query needs at least "
                            "one aggregate")

        base = df.withColumn("__ones", self._lit(1.0)) if needs_ones else df
        if base.isStreaming:
            self._stateful_passes += 1
        if axis == "count":
            order_cols = None
            if isinstance(leaf, TableRef) and self.catalog.has(leaf.name):
                et = self.catalog.meta(leaf.name).event_time_col
                if et:
                    order_cols = [et]
            out = count_window_agg(
                base, keys, aggs, spec.size.value,
                every=spec.every.value if spec.every is not None else None,
                order_col=order_cols)
            win_col = "window_no" if spec.every is None else "trigger"
        else:
            out = delta_window_agg(
                base, keys, aggs, float(spec.size.value),
                every=float(spec.every.value),
                delta_col=spec.size.on_col.name)
            win_col = "trigger"

        def compile_post(e) -> Column:
            """Compile an item/having expression over the stateful output:
            agg calls -> their output columns (counts cast to long);
            Cols must be keys."""
            a = call_alias.get(id(e))
            if a is not None:
                return self._col(a).cast("long") if a in count_aliases \
                    else self._col(a)
            if isinstance(e, Col):
                if e.name not in keys:
                    raise PlanError(
                        f"column {e.name!r} is not a grouping key of the "
                        "streaming count window")
                return self._col(e.name)
            if isinstance(e, Lit):
                return self._lit(e.value)
            if isinstance(e, Param):
                return self._lit(self._bind_param(e))
            if isinstance(e, BinOp):
                return _apply_binop(e.op, compile_post(e.left),
                                    compile_post(e.right))
            if isinstance(e, UnOp):
                x = compile_post(e.operand)
                return {"not": lambda: ~x, "-": lambda: -x,
                        "~": lambda: F.bitwise_not(x)}[e.op]()
            if isinstance(e, Case):
                c = None
                for w, v in e.whens:
                    wc, vc = compile_post(w), compile_post(v)
                    c = F.when(wc, vc) if c is None else c.when(wc, vc)
                return c.otherwise(compile_post(e.else_)) \
                    if e.else_ is not None else c
            if isinstance(e, Between):
                x = compile_post(e.expr).between(compile_post(e.lo),
                                                 compile_post(e.hi))
                return ~x if e.negated else x
            if isinstance(e, IsNull):
                x = compile_post(e.expr)
                return x.isNotNull() if e.negated else x.isNull()
            if isinstance(e, InList):
                x = compile_post(e.expr).isin(
                    *[compile_post(i) for i in e.items])
                return ~x if e.negated else x
            if isinstance(e, FuncCall):
                return self.registry.build(
                    e.name, [compile_post(a2) for a2 in e.args])
            raise PlanError(
                f"{type(e).__name__} is not supported in a streaming "
                "count-window projection")

        final = [compile_post(item.expr).alias(_item_name(item, i))
                 for i, item in enumerate(sel.items)]
        final.append(self._col(win_col))
        if sel.having is not None:
            return (out.select(*final,
                               compile_post(sel.having).alias("__hav"))
                    .filter(self._col("__hav")).drop("__hav"))
        return out.select(*final)

    def _ensure_watermark(self, df: DataFrame, leaf,
                          spec: WindowSpec) -> DataFrame:
        """Auto-watermark (engine extension, SURVEY.md §7.0(4)): the
        reference pre-dates watermarks, but Spark needs one to finalize
        windows in append mode.  If the stream was registered without an
        explicit watermark, default the allowed lateness to the window
        size on the window's own time column."""
        from .streaming.windows import duration_str
        if spec.size.on_col is not None:
            tname = spec.size.on_col.name
        elif isinstance(leaf, TableRef) and self.catalog.has(leaf.name):
            tname = self.catalog.meta(leaf.name).event_time_col
        else:
            return df
        if tname is None:
            return df
        if isinstance(leaf, TableRef) and self.catalog.has(leaf.name):
            if self.catalog.meta(leaf.name).watermark:
                return df          # user already chose a lateness bound
        from pyspark.sql.types import TimestampNTZType
        if tname in df.columns and isinstance(df.schema[tname].dataType,
                                              TimestampNTZType):
            # watermarks require TIMESTAMP (EVENT_TIME_IS_NOT_ON_
            # TIMESTAMP_TYPE); engine.register() normally coerces, this
            # covers relations that reached the planner another way
            df = df.withColumn(tname, self._col(tname).cast("timestamp"))
        return df.withWatermark(tname, duration_str(spec.size))

    @staticmethod
    def _cowin_name(rel) -> str:
        binding = getattr(rel, "binding", None)
        return f"__cowin_{binding}" if binding else "__cowin"

    def _is_stream(self, node) -> bool:
        """Whether a query or FROM relation plans to a streaming frame
        (``isStreaming``), read from its leaves' catalog metadata
        instead of asked of each frame the planner builds."""
        if isinstance(node, (SetOp, Join)):
            return self._is_stream(node.left) or self._is_stream(node.right)
        if isinstance(node, Select):
            return node.from_ is not None and self._is_stream(node.from_)
        if isinstance(node, DerivedTable):
            return self._is_stream(node.query)
        return self.catalog.has(node.name) \
            and self.catalog.meta(node.name).is_stream

    def _has_cowin(self, rel, snapshot: bool) -> bool:
        """Whether _apply_snapshot_window attached ``rel``'s co-trigger
        window column: a windowed leaf over a stream, in snapshot
        mode."""
        return snapshot and not isinstance(rel, Join) \
            and rel.window is not None and self._is_stream(rel)

    def _apply_snapshot_window(self, df: DataFrame, rel) -> DataFrame:
        """Snapshot-mode window on one relation leaf.

        Batch: filter to the latest window (CQL now-relation,
        windows.py).  Streaming: no final window exists — instead attach
        a co-trigger window column (``F.window``) that the enclosing
        join turns into a window-equality condition, running the join
        continuously per window (time-axis specs only; the FSQL windowed
        join of test/parserTest.scala:54 — SURVEY.md §2.9/§7.3(2))."""
        if not self._is_stream(rel):
            return last_window_filter(df, rel.window,
                                      self._leaf_time_col(rel),
                                      col=self._col, lit=self._lit)
        from .streaming.windows import _axis, duration_str
        spec = rel.window
        if _axis(spec.size) != "time":
            raise PlanError(
                "streaming windowed joins support time-axis windows only "
                "(count/delta windows have no streaming join primitive; "
                "run in batch mode or aggregate with count_window_agg)")
        tname = self._leaf_time_col(rel)
        if tname is None:
            raise PlanError("time window needs `on <col>` or stream "
                            "event_time_col metadata")
        tcol = self._col(tname)
        if spec.every is not None:
            win = F.window(tcol, duration_str(spec.size),
                           duration_str(spec.every))
        else:
            win = F.window(tcol, duration_str(spec.size))
        return df.withColumn(self._cowin_name(rel), win)

    def _apply_cap_hint(self, df: DataFrame, gcol: str, idcol: str,
                        k: int) -> DataFrame:
        """cap(group, id, k): keep the ``k`` rows of every group whose
        seeded id hash is smallest — the declarative form of
        llm_ops.assemble.cap_per_group's anti-domination cut, keeping
        ALL columns of the select's input rows.

        The dialect surface fixes hash and seed (md5_id_hash, seed 42)
        so a capped query is reproducible across engines and runs —
        the cross-engine hash is what makes the hint value-oracle-able;
        the Python API keeps xxhash64 as its production default.

        Scale shape: ONE hash shuffle on the group key; the
        rank<=k filter compiles to WindowGroupLimit (plan-gated in
        test_hints_ddl), so a billion-row domain keeps a k-row heap
        per task instead of sorting a billion-row buffer."""
        from pyspark.sql import Window

        if df.isStreaming:
            raise PlanError("cap hint is batch-only (row_number over "
                            "an unbounded stream is not supported)")
        g, i = self._resolve_hint_cols(df, (gcol, idcol), "cap")
        ic = self._col(i)
        w = Window.partitionBy(g).orderBy(self._md5_hash(ic, 42), ic)
        rank = "__cap_rank__"
        return (df.withColumn(rank, F.row_number().over(w))
                  .filter(self._col(rank) <= k).drop(rank))

    def _apply_sample_hint(self, df: DataFrame, idcol: str,
                           permille: int) -> DataFrame:
        """sample(id, permille): deterministic Bernoulli subsample —
        keep the rows whose seeded 60-bit md5 id hash satisfies
        ``hash % 1000 < permille`` (a residue cut, NOT a
        top-of-range cut), the TABLESAMPLE shape done reproducibly (a
        rand()-based sample is irreproducible across runs AND
        engines; the hash cut is the same membership rule
        split_dataset/domain_mixture already use, so the SAME rows
        are kept on every engine, every run, every cluster size).

        Like the other dialect cuts the hash and seed are fixed
        (md5_id_hash, seed 42) which makes it value-oracle-able;
        membership is independent of sibling rows, so the hint is a
        PURE per-row filter: no shuffle, no state — and therefore
        the one sampling hint that is STREAMING-SAFE.  Composes with
        WHERE (samples the filtered rows) and with following
        aggregates ("stats over a reproducible 5% of the corpus").
        NULL ids are never sampled (NULL hash → NULL comparison →
        filtered; oracles must spell the exclusion explicitly since
        DuckDB's concat skips NULL args instead of propagating)."""
        (idc,) = self._resolve_hint_cols(df, (idcol,), "sample")
        return df.filter(
            self._md5_hash(self._col(idc), 42) % 1000 < permille)

    def _apply_bm25_hint(self, df: DataFrame, textcol: str,
                         idcol: str, terms: str, k: int) -> DataFrame:
        """bm25(text, id, 'term term ...', k): keep the input rows of
        the k documents scoring highest by Okapi BM25 for the query
        bag, with the score appended as a ``bm25_score`` column — the
        declarative form of llm_ops.textstats.bm25_scores ("retrieve
        the top-k docs for this query, with all their columns"),
        keeping ALL columns of the select's input rows plus the
        score.  Query terms are whitespace-separated inside the one
        quoted argument and normalized with the document tokenizer's
        rules; NULL-id rows are excluded BEFORE scoring (they could
        never join back, so they must not hold top-k slots — and the
        corpus statistics N/avgdl/df count non-NULL-id docs only);
        ties break by ascending id (bm25_scores' premise), so
        the kept row set is deterministic and value-oracle-able —
        the per-(doc, term) micro-score quantization makes the score
        itself bit-exact across engines (textstats.bm25_scores
        docstring).

        Like the other row hints it applies AFTER the WHERE filter,
        in written hint order, so it composes ("score only the
        gopher-clean docs", "cap per source then retrieve").

        Scale shape: the scoring subtree is bm25_scores' (explode
        filtered to query-term postings before the one keyed agg +
        a 1-row broadcast stats aggregate + TakeOrderedAndProject);
        the k-cut makes the score relation <= k rows, which
        BROADCASTS back onto the input — one broadcast hash join, the
        corpus is never shuffled (plan-gated in test_hints_ddl)."""
        if df.isStreaming:
            raise PlanError("bm25 hint is batch-only (a global top-k "
                            "needs the finite corpus and corpus-wide "
                            "df/avgdl statistics)")
        tc, idc = self._resolve_hint_cols(df, (textcol, idcol), "bm25")
        score_col = self._score_hint_output_col(df, "bm25")
        from .llm_ops.textstats import bm25_scores
        # NULL ids can never join back (NULL never equals), so they
        # must not occupy top-k score slots either — exclude them
        # BEFORE scoring, like every other row hint's NULL-id rule
        # (a NULL-id doc in the top-k would silently shrink the
        # result below k and displace a real document)
        scorable = df.filter(self._col(idc).isNotNull())
        try:
            scores = bm25_scores(scorable, tc, idc, terms.split(), k=k)
        except ValueError as e:           # e.g. no usable query terms
            raise PlanError(f"bm25 hint: {e}")
        return self._join_back_score(df, idc, scores, "score",
                                     score_col, "bm25")

    def _score_hint_output_col(self, df: DataFrame, hint: str) -> str:
        """The score column a SCORE_HINTS hint appends is part of its
        CONTRACT (the select list references it by name), so a
        pre-existing column is an error, not a silent rename like
        internal bookkeeping names — checked FIRST, before any
        plan-time work (r14 review: the hybrid probe ran a corpus
        job before this trivially detectable rejection)."""
        score_col = SCORE_HINTS[hint]
        if score_col in df.columns:
            raise PlanError(
                f"{hint} hint adds a {score_col!r} column but the "
                "select input already has one — rename or drop it "
                "first")
        return score_col

    def _join_back_score(self, df: DataFrame, idc: str,
                         scores: DataFrame, value_col: str,
                         score_col: str, hint: str) -> DataFrame:
        """Broadcast a <=k (id, value) score relation back onto the
        hint's input rows, appending it as ``score_col`` — the shared
        join-back tail of every SCORE_HINTS hint (one broadcast hash
        join; the corpus is never shuffled)."""
        join_id = f"__{hint}_id"
        while join_id in df.columns:
            join_id += "_"
        scores = F.broadcast(
            scores.select(self._col("id").alias(join_id),
                          self._col(value_col).alias(score_col)))
        return (df.join(scores, self._col(idc) == self._col(join_id))
                  .drop(join_id))

    def _apply_hybrid_rrf_hint(self, df: DataFrame, textcol: str,
                               veccol: str, idcol: str, terms: str,
                               query_id, k: int,
                               pool: int = 50) -> DataFrame:
        """hybrid_rrf(text, vec, id, 'term term ...', query_id, k[,
        pool]): keep the input rows of the k documents ranking
        highest under Reciprocal Rank Fusion of BM25 (over the query
        term bag) and embedding-cosine (to the ``query_id`` row's
        vector), with the fused score appended as an ``rrf_score``
        column — the declarative form of llm_ops.simsearch.
        hybrid_topk ("docs that MATCH the terms OR RESEMBLE the seed
        doc, with all their columns").  Each leg is cut to its
        top-``pool`` candidates (default 50) before fusion; ranks
        tie-break ascending id over already-deterministic scores, so
        the kept row set AND the fused score value-oracle bit-exactly
        (simsearch.rrf_fusion docstring: integer ranks, one
        correctly-rounded reciprocal per leg, list-order association
        — BM25 leg first, cosine leg second).

        Like the other row hints it applies AFTER the WHERE filter,
        in written hint order; NULL-id rows are excluded BEFORE
        scoring, the bm25-hint rule (they could never join back, so
        they must not hold candidate slots on either leg).

        Scale shape: the corpus-scale work is the two upstream
        operators' (bm25_scores: filtered explode + broadcast stats +
        TakeOrderedAndProject; cosine_topk: broadcast 1-row query +
        TakeOrderedAndProject); the fusion join runs on two ≤ pool-row
        relations and the ≤ k-row result BROADCASTS back onto the
        input — one broadcast hash join, the corpus is never shuffled
        (plan-gated in test_hints_ddl)."""
        if df.isStreaming:
            raise PlanError(
                "hybrid_rrf hint is batch-only (global top-k legs "
                "need the finite corpus and corpus-wide statistics)")
        tc, vc, idc = self._resolve_hint_cols(
            df, (textcol, veccol, idcol), "hybrid_rrf")
        score_col = self._score_hint_output_col(df, "hybrid_rrf")
        from .llm_ops.simsearch import hybrid_topk
        scorable = df.filter(self._col(idc).isNotNull())
        # a typo'd / absent query_id — or one whose VECTOR is NULL
        # (r14 review: cosine_sim(v, NULL) is NULL for every
        # candidate, so the leg silently ranks by ascending id) —
        # would silently degrade the fusion to pure-BM25-plus-noise;
        # fail loudly instead.  The probe uses the SAME ``==``
        # comparison as the leg's own query filter, so its verdict
        # agrees with the leg exactly; it makes the hint EAGER at
        # plan time (one short-circuited corpus probe, the
        # cosine_topk_batch precedent).
        # limit(2), not limit(1): exactly one matching row is the
        # contract — a DUPLICATE query_id would broadcast 2+ query
        # rows into the cosine crossJoin (every candidate duplicated,
        # ranks and the fused score silently corrupted — r14 review
        # pass 2), and a limit(1) probe could land on the one clean
        # row of a dirty pair.  Two collected rows prove duplication
        # without scanning past the second match.
        hit = (scorable.filter(self._col(idc) == self._lit(query_id))
                       .select(self._col(vc).alias("__v"))
                       .limit(2).collect())
        if not hit:
            raise PlanError(
                f"hybrid_rrf hint: query_id {query_id!r} not present "
                f"in column {idc!r} of the select input")
        if len(hit) > 1:
            raise PlanError(
                f"hybrid_rrf hint: query_id {query_id!r} matches "
                f"more than one row — the cosine leg needs exactly "
                "one query vector (dedupe the input first)")
        if hit[0]["__v"] is None:
            raise PlanError(
                f"hybrid_rrf hint: the query_id {query_id!r} row has "
                f"a NULL {vc!r} vector — the cosine leg would rank "
                "meaninglessly (every cosine NULL)")
        try:
            fused = hybrid_topk(scorable, tc, vc, idc, terms.split(),
                                query_id, k=k, pool=pool)
        except ValueError as e:           # e.g. no usable query terms
            raise PlanError(f"hybrid_rrf hint: {e}")
        return self._join_back_score(df, idc, fused, "rrf",
                                     score_col, "hybrid_rrf")

    def _apply_priority_sample_hint(self, df: DataFrame, idcol: str,
                                    wcol: str, k: int,
                                    stratcol: str = None) -> DataFrame:
        """priority_sample(id, weight, k[, stratum]): keep the k rows
        whose Duffield-Lund-Thorup priority u/weight is smallest — the
        declarative form of llm_ops.assemble.priority_sample
        (weighted sampling without replacement, inclusion probability
        increasing in weight), keeping ALL columns of the select's
        input rows.  With the optional 4th column the cut is PER
        STRATUM (k rows from each distinct value — the corpus-mixture
        shape, llm_ops.assemble.priority_sample_stratified): the plan
        becomes a per-stratum WindowGroupLimit that runs Partial
        BEFORE the one keyed exchange, so the shuffle carries
        O(tasks * strata * k) rows, never the corpus.

        Like cap/token_budget, the dialect surface fixes hash and
        seed (md5_id_hash, seed 42); the u/w key uses only
        correctly-rounded IEEE ops (assemble.dlt_priority — no
        pow/log), so the sampled row set value-oracles bit-exactly
        (DuckDB: ORDER BY the same priority LIMIT k).  NULL and
        non-positive weights are excluded (never sampled), and so are
        NULL ids (NULL hash → NULL priority → opposite NULL-sort
        order across engines); ties break by ascending id.

        Scale shape: projection + TakeOrderedAndProject
        (per-partition k-row heap, driver merges k per partition) —
        no shuffle, no global sort; plan-gated in test_hints_ddl."""
        if df.isStreaming:
            raise PlanError(
                "priority_sample hint is batch-only (a global top-k "
                "needs the finite corpus; sample in batch, or cut the "
                "stream with QUALIFY on a running count)")
        idc, wc = self._resolve_hint_cols(df, (idcol, wcol),
                                          "priority_sample")
        from .llm_ops.assemble import dlt_priority
        w = self._col(wc).cast("double")
        # collision-free bookkeeping name — withColumn silently
        # REPLACES a same-named user column (the __tb_* lesson)
        pri = "__ps_pri"
        while pri in df.columns:
            pri += "_"
        base = (df.filter(w.isNotNull() & (w > 0)
                          & self._col(idc).isNotNull())
                  .withColumn(pri, dlt_priority(idc, wc, 42,
                                                self._md5_hash)))
        if stratcol is None:
            return base.orderBy(pri, self._col(idc)).limit(k).drop(pri)
        from pyspark.sql import Window

        (sc,) = self._resolve_hint_cols(df, (stratcol,),
                                        "priority_sample")
        rn = pri + "_rn"
        while rn in df.columns:
            rn += "_"
        win = Window.partitionBy(sc).orderBy(pri, self._col(idc))
        return (base.withColumn(rn, F.row_number().over(win))
                    .filter(self._col(rn) <= k).drop(pri, rn))

    def _apply_token_budget_hint(self, df: DataFrame, idcol: str,
                                 tokcol: str, budget: int) -> DataFrame:
        """token_budget(id, tokens, budget): keep the hash-ordered
        prefix of rows whose running ``tokens`` total stays <=
        ``budget`` — the declarative form of
        llm_ops.assemble.token_budget_filter ("sample the first B
        tokens of the corpus, reproducibly"), keeping ALL columns of
        the select's input rows.

        Like cap, the dialect surface fixes hash and seed
        (md5_id_hash, seed 42) so the cut is reproducible across
        engines and value-oracle-able (DuckDB: running sum over ORDER
        BY the same 60-bit md5 key); the Python API keeps xxhash64 as
        its production default.

        Scale shape: the running sum is distributed — range-bucket on
        the id hash, fold the per-bucket token subtotals (at most
        parallelism+3 rows) into prefix offsets inside the plan,
        rebase with the broadcast offsets, prune whole buckets past the
        budget before the per-bucket window runs.  Building the plan
        runs no job (assemble.token_budget_filter)."""
        if df.isStreaming:
            raise PlanError("token_budget hint is batch-only (a "
                            "running total over an unbounded stream "
                            "has no prefix)")
        idc, tokc = self._resolve_hint_cols(df, (idcol, tokcol),
                                            "token_budget")
        from .llm_ops.assemble import token_budget_filter
        return token_budget_filter(df, idc, tokc, budget,
                                   seed=42, id_hash=self._md5_hash,
                                   col=self._col, lit=self._lit)

    def _apply_mixture_hint(self, df: DataFrame, domcol: str,
                            idcol: str, tokcol: str,
                            weights_str: str,
                            temperature=None) -> DataFrame:
        """mixture(domain, id, tokens, 'dom=w,dom=w,...'): rebalance
        the select's input rows toward the target token shares —
        the declarative form of llm_ops.assemble.domain_mixture
        (downsample-only: the binding domain keeps rate 1.0, every
        other domain is hash-downsampled; domains absent from the
        weight list are dropped), keeping ALL columns of the input
        rows.

        Like cap/token_budget, the dialect surface fixes hash and
        seed (md5_id_hash, seed 42) so membership is reproducible
        across engines and value-oracle-able; the Python API keeps
        xxhash64 as its production default.

        Scale shape (domain_mixture's): one partial-aggregated
        groupBy for the per-domain token totals (|domains| rows), a
        broadcast rates join, one filter — the corpus is touched by
        exactly one agg pass and one filter.

        ``temperature`` (the mixture_temperature(domain, id, tokens,
        weights, T) hint, r11): the resolved weights are
        temperature-flattened w' = w^(1/T) at plan time before the
        same rate algebra runs (assemble.temperature_scaled_weights;
        T=2 = sqrt is the cross-engine-oracle configuration)."""
        if df.isStreaming:
            raise PlanError("mixture hint is batch-only (per-domain "
                            "token totals need the whole corpus)")
        d, i, t = self._resolve_hint_cols(df, (domcol, idcol, tokcol),
                                          "mixture")
        if weights_str.strip() and "=" not in weights_str:
            # table form (r10): a bare identifier names a registered
            # (domain, weight) relation instead of a literal string
            # (an EMPTY weights string stays a string-form error)
            weights = self._mixture_weights_from_relation(weights_str)
        else:
            weights = {}
            for part in weights_str.split(","):
                part = part.strip()
                if not part:
                    continue
                dom, eq, w = part.partition("=")
                dom = dom.strip()
                try:
                    wv = float(w.strip()) if eq else None
                except ValueError:
                    wv = None
                if not dom or not _valid_weight(wv) or dom in weights:
                    raise PlanError(
                        f"mixture hint weight entry {part!r} is not a "
                        f"unique 'domain=positive_finite_number' pair")
                weights[dom] = wv
            if not weights:
                raise PlanError("mixture hint needs at least one "
                                "'domain=weight' entry")
        from .llm_ops.assemble import (domain_mixture_filter,
                                       temperature_scaled_weights)
        if temperature is not None:
            weights = temperature_scaled_weights(weights,
                                                 float(temperature))
        return domain_mixture_filter(df, d, i, t, weights, seed=42,
                                     id_hash=self._md5_hash,
                                     col=self._col, lit=self._lit)

    def _mixture_weights_from_relation(self, name: str) -> dict:
        """mixture(domain, id, tokens, weights_rel): target shares
        read from a registered relation whose FIRST TWO columns are
        (domain, weight).  A weights table is tiny by construction
        (one row per domain), so it is collected and validated at
        PLAN time — the mixture analog of token_budget's documented
        bounded plan-time action; a >10k-row relation is rejected as
        a misuse guard rather than collected."""
        if not self.catalog.has(name):
            raise PlanError(
                f"mixture hint weights {name!r} is neither a "
                f"'dom=w,...' string (no '=') nor a registered "
                f"relation")
        rel = self.catalog.get(name)
        if rel.isStreaming:
            raise PlanError(
                "mixture hint weights must come from a batch relation "
                "(a stream has no settled weight set)")
        if len(rel.columns) < 2:
            raise PlanError(
                f"mixture weights relation {name!r} needs (domain, "
                f"weight) columns, got {rel.columns}")
        dcol, wcol = rel.columns[:2]
        rows = rel.select(dcol, wcol).limit(10001).collect()
        if len(rows) > 10000:
            raise PlanError(
                f"mixture weights relation {name!r} has more than "
                f"10000 rows — not a per-domain weights table")
        weights: dict = {}
        for r in rows:
            dom, w = r[0], r[1]
            try:
                wv = None if w is None else float(w)
            except (TypeError, ValueError):
                wv = None
            # the dict keys are str(dom), so the uniqueness probe
            # must be too — a raw non-string dom would never match
            # and duplicates would silently overwrite
            if dom is None or not _valid_weight(wv) \
                    or str(dom) in weights:
                raise PlanError(
                    f"mixture weights relation row ({dom!r}, {w!r}) "
                    f"is not a unique (domain, "
                    f"positive_finite_weight) pair")
            weights[str(dom)] = wv
        if not weights:
            raise PlanError(
                f"mixture weights relation {name!r} is empty")
        return weights

    @staticmethod
    def _resolve_hint_cols(df: DataFrame, wanted: tuple,
                           hint: str) -> list[str]:
        """Case-insensitive resolution of hint argument columns against
        the select's input frame — shared by cap and token_budget so
        the resolution rule cannot drift between hints."""
        resolve: dict = {}
        for c in df.columns:
            resolve.setdefault(c.lower(), []).append(c)
        cols = []
        for want in wanted:
            got = resolve.get(want.lower())
            if not got:
                raise PlanError(
                    f"{hint} hint column {want!r} not in select input "
                    f"({', '.join(df.columns)})")
            if len(got) > 1:
                raise PlanError(f"{hint} hint column {want!r} is "
                                "ambiguous in the join result")
            cols.append(got[0])
        return cols

    def _match_salt_hint(self, rel):
        """Consume the salt(key, n) spec whose key appears in this
        join's USING list or ON predicate.  Popping marks the hint as
        applied; plan_select errors on leftovers so a typo'd key can't
        silently no-op."""
        if not self._salt_specs:
            return None
        names: set = set()
        if rel.using is not None:
            names.update(u.lower() for u in rel.using)
        elif rel.on is not None:
            names.update(x.name.lower() for x in walk_expr(rel.on)
                         if isinstance(x, Col))
        for key in list(self._salt_specs):
            if key in names:
                return key, self._salt_specs.pop(key)
        return None

    def _salted_on_join(self, rel, left: DataFrame, right: DataFrame,
                        how: str, n: int) -> DataFrame:
        """ON-form of the salted join (skew.salted_join covers USING):
        the left (fact) side scatters over n salts, the right side
        replicates n ways via explode (a projection, no shuffle), and
        the shuffle runs on (cond, salt) — a hot key's rows land on n
        tasks instead of one.  Result set provably equals the unsalted
        join; which salt a fact row draws is irrelevant because every
        salt matches the same replicated right rows."""
        sl, sr = "__salt_l", "__salt_r"
        # check BOTH frames for BOTH names: the final drop(sl, sr)
        # removes every column with those names from the joined frame,
        # so a user column named __salt_l on the right side would be
        # silently dropped if only left were checked
        taken = set(left.columns) | set(right.columns)
        if sl in taken or sr in taken:
            raise PlanError(
                f"salt hint: column {sl!r}/{sr!r} already exists")
        left2 = left.withColumn(
            sl, F.floor(F.rand(42) * n).cast("int"))
        right2 = right.withColumn(
            sr, F.explode(F.sequence(self._lit(0), self._lit(n - 1))))
        cond = self._compile_join_cond(rel.on, left2, right2) & \
            (self._col(sl) == self._col(sr))
        return left2.join(right2, on=cond, how=how).drop(sl, sr)

    def _compile_join_cond(self, e, left: DataFrame,
                           right: DataFrame) -> Column:
        # qualified refs work on the pre-join frames via their aliases
        return self._compile(e, None)

    # ------------------------------------------------------------------
    # expression compilation (non-aggregate context)
    # ------------------------------------------------------------------

    def _compile(self, e, df: Optional[DataFrame]) -> Column:
        if isinstance(e, Lit):
            return self._lit(e.value)
        if isinstance(e, Param):
            return self._lit(self._bind_param(e))
        if isinstance(e, Col):
            if e.binding is not None:
                return self._col(f"{e.binding}.{e.name}")
            if self._qualify_aliases:
                hid = self._qualify_aliases.get(e.name.lower())
                if hid is not None:
                    return self._col(hid)
            return self._col(e.name)
        if isinstance(e, BinOp):
            return self._compile_binop(e, df)
        if isinstance(e, UnOp):
            x = self._compile(e.operand, df)
            if e.op == "not":
                return ~x
            if e.op == "-":
                return -x
            if e.op == "~":
                return F.bitwise_not(x)
            raise PlanError(f"unknown unary op {e.op}")
        if isinstance(e, Between):
            x = self._compile(e.expr, df)
            c = x.between(self._compile(e.lo, df), self._compile(e.hi, df))
            return ~c if e.negated else c
        if isinstance(e, IsNull):
            x = self._compile(e.expr, df)
            return x.isNotNull() if e.negated else x.isNull()
        if isinstance(e, InList):
            x = self._compile(e.expr, df)
            vals = [self._compile(i, df) for i in e.items]
            c = x.isin(*vals)
            return ~c if e.negated else c
        if isinstance(e, Case):
            c = None
            for cond, val in e.whens:
                cc = self._compile(cond, df)
                vv = self._compile(val, df)
                c = F.when(cc, vv) if c is None else c.when(cc, vv)
            if e.else_ is not None:
                c = c.otherwise(self._compile(e.else_, df))
            return c
        if isinstance(e, Cast):
            return self._compile(e.expr, df).cast(_cast_type(e))
        if isinstance(e, IntervalLit):
            return F.expr(f"INTERVAL {e.value} {e.unit}")
        if isinstance(e, Subscript):
            # 1-based, NULL out of range (try_element_at) — the DuckDB
            # list-indexing semantics, so both executors agree
            return F.try_element_at(self._compile(e.expr, df),
                                    self._compile(e.index, df))
        if isinstance(e, FuncCall):
            return self._compile_func(e, df)
        if isinstance(e, WindowFunc):
            return self._compile_window_func(e, df)
        if isinstance(e, (InSubquery, Exists, ScalarSubquery,
                          QuantifiedCmp)):
            raise PlanError(
                "internal: subquery expressions go through the SQL path")
        if isinstance(e, Star):
            raise PlanError("* not valid in this position")
        raise PlanError(f"cannot compile expression {type(e).__name__}")

    _COMPARISON_OPS = frozenset({"=", "!=", "<", ">", "<=", ">="})

    def _compile_binop(self, e: BinOp, df) -> Column:
        op = e.op
        # reference-parity param typing (flinkdsl/typer.scala_:97-158):
        # a `?` compared against a column takes that column's type, so
        # params=["5"] against an int column compares as int, not as
        # Spark's string-vs-int cast choice.  Without column context the
        # param binds as its Python literal.
        if op in self._COMPARISON_OPS and \
                (isinstance(e.left, Param) != isinstance(e.right, Param)):
            l = (self._param_lit(e.left, e.right, df)
                 if isinstance(e.left, Param) else self._compile(e.left, df))
            r = (self._param_lit(e.right, e.left, df)
                 if isinstance(e.right, Param) else self._compile(e.right, df))
            return _apply_binop(op, l, r)
        l = self._compile(e.left, df)
        # shift amounts must be python ints for F.shiftleft/right
        if op in ("<<", ">>"):
            if not isinstance(e.right, Lit):
                raise PlanError("shift amount must be a literal")
            n = int(e.right.value)
            return F.shiftleft(l, n) if op == "<<" else F.shiftright(l, n)
        if op == "like" and isinstance(e.right, Lit) \
                and isinstance(e.right.value, str):
            return l.like(e.right.value)
        if op == "ilike" and isinstance(e.right, Lit) \
                and isinstance(e.right.value, str):
            return l.ilike(e.right.value)
        return _apply_binop(op, l, self._compile(e.right, df))

    def _param_lit(self, p: Param, other, df) -> Column:
        """Bind a parameter, casting it to the compared column's type
        when that type is resolvable from the frame in scope."""
        lit = self._lit(self._bind_param(p))
        if df is not None and isinstance(other, Col) \
                and other.binding is None:
            dt = dict(df.dtypes).get(other.name)
            if dt is not None:
                lit = lit.cast(dt)
        return lit

    def _compile_func(self, e: FuncCall, df) -> Column:
        if self.registry.is_aggregate(e.name):
            # aggregate in a non-aggregate context: only valid for
            # count(*) style full-table aggregates — handled by agg path;
            # reaching here means misuse
            raise PlanError(
                f"aggregate function {e.name}() used outside aggregation")
        args = [self._compile(a, df) for a in e.args]
        return self.registry.build(e.name, args)

    _RANKING_FUNCS = frozenset({"row_number", "rank", "dense_rank",
                                "percent_rank", "cume_dist", "ntile"})
    _OFFSET_FUNCS = frozenset({"lag", "lead"})
    _VALUE_FUNCS = frozenset({"first_value", "last_value"})

    _ONE_STATEFUL_MSG = (
        "only one stateful streaming pass is allowed per query (a "
        "Spark limitation on applyInPandasWithState): at most one "
        "set-op branch or query level may use streaming OVER / "
        "QUALIFY or a stateful count/delta window — run the other "
        "as its own query or in batch")

    _RUNNING_FRAME_MSG = (
        "streaming OVER supports only running aggregates — "
        "sum/count/min/max/avg OVER (PARTITION BY cols ORDER BY "
        "event-time [, tiebreak] ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "CURRENT ROW) — write the ROWS frame explicitly (the implicit "
        "default frame is RANGE, whose peer semantics an unbounded "
        "stream cannot honor) — plus row_number()/rank()/dense_rank() "
        "(no frame), lag(col [, offset [, default]]) (no frame), and "
        "first_value/last_value/nth_value over the same running ROWS "
        "frame")

    def _plan_streaming_over(self, sel: Select, df: DataFrame,
                             wfs: list) -> DataFrame:
        """Streaming analytic OVER (r9): per-row RUNNING aggregates on
        an unbounded stream, routed through the stateful
        ``running_agg`` operator (streaming/stateful.py) instead of
        ``pyspark.sql.Window`` (which Spark forbids on streams).

        Scope is exactly what an unbounded stream can honor
        incrementally: aggregate functions sum/count/min/max/avg with
        an explicit ``ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
        ROW`` frame, plus ``lag(col [, k [, default]])`` (r10 — O(k)
        backward state; ``lead`` stays rejected because it reads rows
        that have not arrived), ``first_value`` (one captured value
        per key), ``nth_value(col, n)`` (O(n) capture buffer),
        ``last_value`` (over the running ROWS frame it IS the current
        row — compiled inline, no state), ``row_number()`` (the
        running row count cast to int — same state as count(*)),
        ``rank()``/``dense_rank()`` (r11 — peers share a rank; O(1)
        state: the last row's order key + one scalar per spec),
        PARTITION BY and ascending ORDER BY keys that are plain
        columns OR expressions (r11 — an expression key compiles to a
        hidden computed column before the stateful pass, never
        projected; structurally equal expressions share one hidden column
        so the one-spec rule still holds; a TimestampType ORDER BY
        column travels the same way, as its ``unix_micros`` int64,
        which orders identically and skips the per-key tz-aware
        timestamp conversion).  lag / first_value /
        last_value / nth_value accept ``IGNORE NULLS`` (r11): the
        state then tracks non-null values (last k non-nulls / first
        non-null / most recent non-null / first n non-nulls) at the
        same O(k)-or-better size; IGNORE-NULLS last_value is stateful
        (one captured value) where the respect-nulls form compiles
        inline.
        Every window function in the select must share one
        (partition, order) spec — the stateful pass groups the stream
        once.  Anything else keeps the clear batch-only rejection.

        Scale shape: ONE keyed state shuffle (the applyInPandasWithState
        exchange); state per key is O(1) scalars, independent of
        stream length.  The pass ships only the columns it or the rest
        of the query reads — keys, order keys, window-function inputs,
        hidden columns, and the columns the SELECT, QUALIFY and ORDER
        BY reference outside window functions (all of them under
        ``SELECT *``): the per-key Arrow round trip grows with every
        column sent.  Substitutions land in ``_stream_wf_cols`` so
        the normal projection compile picks the computed columns up."""
        from .streaming import running_agg

        def plain_col(x, what):
            if not isinstance(x, Col):
                raise PlanError(
                    f"streaming OVER {what} must be a plain column "
                    f"(got an expression)")
            got = [c for c in df.columns
                   if c.lower() == x.name.lower()]
            if len(got) != 1:
                raise PlanError(
                    f"streaming OVER {what} column {x.name!r} is "
                    f"{'ambiguous' if got else 'not'} in the stream "
                    f"({', '.join(df.columns)})")
            return got[0]

        expr_keys: list[tuple] = []  # (Expr, hidden name), dedup below

        def key_col(x, what):
            """Resolve a PARTITION BY / ORDER BY key: a plain column
            by name, any other expression — and a TimestampType ORDER
            BY column, as ``unix_micros`` — via a hidden computed
            column.  Structurally equal expressions (dataclass
            equality) share one hidden column, so the same expression
            written in two OVER clauses still resolves to ONE spec —
            the spec-sharing rule compares resolved names."""
            dedup, expr = x, x
            if isinstance(x, Col):
                name = plain_col(x, what)
                if what != "ORDER BY" or not isinstance(
                        df.schema[name].dataType, TimestampType):
                    return name
                dedup, expr = ("unix_micros", name), \
                    F.unix_micros(self._col(name))
            for prev, name in expr_keys:
                if prev == dedup:
                    return name
            name = _fresh(f"__rw_key{len(expr_keys)}")
            expr_keys.append((dedup, name))
            hidden.append((name, expr))
            return name

        # the stateful exchange erases the FROM leaves' binding
        # aliases; qualified projection refs only survive for a
        # single leaf (re-aliased below), so reject joins up front
        # with a clean message instead of a raw Spark resolution error
        leaves = list(visible_leaves(sel.from_))
        if len(leaves) != 1:
            raise PlanError(
                "streaming OVER supports a single stream relation in "
                "FROM (running aggregates over a join result: compute "
                "them in a derived table over one stream first)")

        spec0 = None
        aggs: list[tuple] = []
        offsets: list[tuple] = []    # (col, k, default, alias, ignore)
        firsts: list[tuple] = []     # (col, alias, ignore)
        nths: list[tuple] = []       # (col, n, alias, ignore)
        ranks: list[tuple] = []      # (kind, alias)
        lasts: list[tuple] = []      # (col, alias) — IGNORE NULLS only
        rownum_casts: list[str] = []        # long outputs -> int
        hidden: list[tuple] = []  # (name, Expr | Column) inputs to add
        wf_map: dict[int, str] = {}         # installed only on success

        # bookkeeping names must not shadow a stream column — a user
        # column named __rw_out0 would duplicate in running_agg's
        # output schema, and withColumn would silently replace a
        # __rw_in0 (the same collision class token_budget_filter
        # guards against)
        taken = set(df.columns)

        def _fresh(base: str) -> str:
            name, n = base, 0
            while name in taken:
                n += 1
                name = f"{base}_{n}"
            taken.add(name)
            return name

        def _input_col(arg, what: str, i: int) -> str:
            """Resolve a window function's input: a plain column by
            name, anything else via a hidden computed column."""
            if isinstance(arg, Col):
                return plain_col(arg, what)
            name = _fresh(f"__rw_in{i}")
            hidden.append((name, arg))
            return name
        for i, e in enumerate(wfs):
            name = e.func.name
            if e.ignore_nulls:
                # same applicability rule as batch (lead then hits its
                # own causality rejection below)
                msg = null_treatment_error(name)
                if msg:
                    raise PlanError(msg)
            if name == "lead":
                raise PlanError(
                    "lead() is batch-only: it reads rows that have not "
                    "arrived yet, which an unbounded stream cannot look "
                    "ahead to — use lag() (the backward offset) or run "
                    "the query in batch")
            is_lag = name == "lag"
            is_first = name == "first_value"
            is_last = name == "last_value"
            is_nth = name == "nth_value"
            is_rownum = name == "row_number"
            is_rank = name in ("rank", "dense_rank")
            if not (is_lag or is_first or is_last or is_nth
                    or is_rownum or is_rank) and (
                    not self.registry.is_aggregate(name)
                    or name not in ("sum", "count", "min", "max", "avg")):
                raise PlanError(self._RUNNING_FRAME_MSG)
            if e.func.distinct:
                raise PlanError(
                    f"DISTINCT is not supported in window function "
                    f"{name}()")
            f = e.frame
            if is_lag or is_rownum or is_rank:
                if f is not None:
                    raise PlanError(
                        f"{name}() does not accept a frame "
                        f"specification")
            elif f is None or f.mode != "rows" \
                    or f.start != ("unbounded_preceding",) \
                    or f.end != ("current",):
                raise PlanError(self._RUNNING_FRAME_MSG)
            if not e.order_by:
                raise PlanError(
                    f"{name}() requires ORDER BY in its OVER clause"
                    if (is_lag or is_rownum or is_rank) else
                    self._RUNNING_FRAME_MSG)
            if (is_first or is_last) and (
                    len(e.func.args) != 1
                    or isinstance(e.func.args[0], Star)):
                raise PlanError(
                    f"{name}() takes exactly one argument")
            if is_nth and (len(e.func.args) != 2
                           or isinstance(e.func.args[0], Star)):
                raise PlanError(
                    "nth_value(col, n) takes exactly two arguments")
            for o in e.order_by:
                if not o.ascending or o.nulls == "last":
                    raise PlanError(
                        "streaming OVER ORDER BY must be ascending "
                        "(rows can only arrive forward in time)")
            keys = tuple(key_col(p, "PARTITION BY")
                         for p in e.partition_by)
            order = tuple(key_col(o.expr, "ORDER BY")
                          for o in e.order_by)
            if spec0 is None:
                spec0 = (keys, order)
            elif spec0 != (keys, order):
                raise PlanError(
                    "all streaming window functions in one SELECT "
                    "must share the same PARTITION BY and ORDER BY "
                    "(the stream is stateful-grouped once)")
            args = e.func.args
            if is_rownum:
                if args:
                    raise PlanError("row_number() takes no arguments")
                # the running row count IS the row number under the
                # shared ascending order; cast to int after the
                # stateful pass for batch-dtype parity (Spark
                # row_number is IntegerType, the stateful count long)
                out_name = _fresh(f"__rw_out{i}")
                aggs.append(("count", None, out_name))
                rownum_casts.append(out_name)
                wf_map[id(e)] = out_name
                continue
            if is_rank:
                if args:
                    raise PlanError(f"{name}() takes no arguments")
                # SQL rank semantics, incrementally: peers (equal on
                # every order column) share a rank; state per key is
                # the last row's order key + one scalar per spec —
                # O(1) (stateful.py running_agg ranks).  Long out of
                # the stateful pass, cast to int for batch-dtype
                # parity like row_number.
                out_name = _fresh(f"__rw_out{i}")
                ranks.append((name, out_name))
                rownum_casts.append(out_name)
                wf_map[id(e)] = out_name
                continue
            if is_lag:
                if not 1 <= len(args) <= 3:
                    raise PlanError(
                        "lag(col [, offset [, default]]) takes 1-3 "
                        "arguments")
                off = 1
                if len(args) >= 2:
                    v = _plain_literal(args[1])
                    if not isinstance(v, int) or isinstance(v, bool):
                        raise PlanError(
                            "lag() offset must be an integer literal")
                    off = v
                if off < 0:
                    raise PlanError(
                        "lag() offset must be >= 0 on a stream (a "
                        "negative offset is lead(), which reads rows "
                        "that have not arrived yet)")
                dflt = None
                if len(args) == 3:
                    dflt = _plain_literal(args[2])
                    if dflt is _NOT_LITERAL:
                        raise PlanError("lag() default must be a literal")
                if isinstance(args[0], Star):
                    raise PlanError("lag(*) is not valid")
                in_col = _input_col(args[0], "lag() argument", i)
                out_name = _fresh(f"__rw_out{i}")
                offsets.append((in_col, off, dflt, out_name,
                                e.ignore_nulls))
                wf_map[id(e)] = out_name
                continue
            if is_first:
                in_col = _input_col(args[0], "first_value() argument", i)
                out_name = _fresh(f"__rw_out{i}")
                firsts.append((in_col, out_name, e.ignore_nulls))
                wf_map[id(e)] = out_name
                continue
            if is_nth:
                n = _plain_literal(args[1])
                if not isinstance(n, int) or isinstance(n, bool) \
                        or n < 1:
                    raise PlanError(
                        "nth_value() n must be a positive integer "
                        "literal")
                in_col = _input_col(args[0], "nth_value() argument", i)
                out_name = _fresh(f"__rw_out{i}")
                nths.append((in_col, n, out_name, e.ignore_nulls))
                wf_map[id(e)] = out_name
                continue
            if is_last:
                if e.ignore_nulls:
                    # IGNORE NULLS last_value is the running most
                    # recent NON-null — a stateful spec (one captured
                    # value per key), unlike the respect-nulls form
                    in_col = _input_col(
                        args[0], "last_value() argument", i)
                    out_name = _fresh(f"__rw_out{i}")
                    lasts.append((in_col, out_name))
                    wf_map[id(e)] = out_name
                    continue
                # over the running ROWS frame, last_value(x) IS the
                # current row's x — no state needed: map the window
                # function at the input column (or a hidden
                # column for expressions)
                if isinstance(args[0], Col):
                    wf_map[id(e)] = plain_col(args[0],
                                              "last_value() argument")
                else:
                    out_name = _fresh(f"__rw_out{i}")
                    hidden.append((out_name, args[0]))
                    wf_map[id(e)] = out_name
                continue
            if args and isinstance(args[0], Star):
                if name != "count":
                    raise PlanError(f"{name}(*) is not valid")
                in_col = None
            elif len(args) != 1:
                raise PlanError(
                    f"running {name}() takes exactly one argument")
            else:
                in_col = _input_col(args[0], f"{name}() argument", i)
            out_name = _fresh(f"__rw_out{i}")
            aggs.append((name, in_col, out_name))
            wf_map[id(e)] = out_name

        hidden_cols = [(expr if isinstance(expr, Column)
                        else self._compile(expr, df)).alias(h)
                       for h, expr in hidden]
        stateful = bool(aggs or offsets or firsts or nths or ranks
                        or lasts)
        if stateful and not any(isinstance(item.expr, Star)
                                for item in sel.items):
            used = {c.lower() for c in _cols_outside_windows(
                [item.expr for item in sel.items] + [sel.qualify]
                + [o.expr for o in sel.order_by])}
            used.update(c.lower() for c in (
                *spec0[0], *spec0[1], *wf_map.values(),
                *(c for _f, c, _a in aggs if c is not None),
                *(x[0] for x in offsets + firsts + nths + lasts)))
            df = df.select(*[self._col("`" + c.replace("`", "``") + "`")
                             for c in df.columns if c.lower() in used],
                           *hidden_cols)
        elif hidden_cols:
            df = df.select("*", *hidden_cols)
        if stateful:
            out = running_agg(df, list(spec0[0]), aggs, list(spec0[1]),
                              offsets=offsets, firsts=firsts,
                              nths=nths, ranks=ranks, lasts=lasts)
        else:
            # pure last_value select: every window function compiled
            # to an existing (or hidden) column — no stateful
            # pass at all
            out = df
        # hidden columns stay on `out`: the projection names its
        # columns (star expands the leaf's own), so none leaks out
        for rc in rownum_casts:
            out = out.withColumn(rc, self._col(rc).cast("int"))
        # restore the single leaf's binding so the projection's
        # qualified column refs (resolver qualifies every Col by its
        # leaf) still resolve on the stateful output
        out = out.alias(leaves[0].binding)
        # install the substitution map LAST: every raise above leaves
        # it untouched, so a failed plan can never poison a later
        # compile through a recycled AST id (the caller clears it
        # after the projection compiles)
        self._stream_wf_cols = wf_map
        if stateful:
            self._stateful_passes += 1
        return out

    def _compile_window_func(self, e: WindowFunc, df,
                             compile=None) -> Column:
        """Analytic OVER clause (engine extension, SURVEY.md §2.5 —
        the reference has none).  Maps 1:1 onto pyspark.sql.Window:
        ranking/offset/value functions compile directly, aggregate
        names go through the registry and ``.over(w)``.

        Scale shape: ONE hash shuffle on the partition keys; an empty
        PARTITION BY is a deliberate single-partition global window
        (allowed, but the scale sweep flags it in driver queries).
        Frames map to rowsBetween/rangeBetween — a running frame keeps
        incremental state per task, never a per-group sort buffer
        beyond the partition sort itself."""
        from pyspark.sql import Window as SW

        comp = compile if compile is not None \
            else (lambda x: self._compile(x, df))
        name = e.func.name
        if e.ref is not None:
            # parser resolves WINDOW-clause refs in select items and
            # QUALIFY; one surviving here sits in a position named
            # windows don't reach
            raise PlanError(
                f"window reference {e.ref!r} is not valid in this "
                "position (use an inline OVER (...) spec)")
        if df is None:
            raise PlanError("window functions require a FROM clause")
        if e.ignore_nulls:
            msg = null_treatment_error(name)
            if msg:
                raise PlanError(msg)
        mapped = self._stream_wf_cols.get(id(e))
        if mapped is not None:
            # already computed by the stateful running_agg pass
            return self._col(mapped)
        if self._select_stream:
            raise PlanError(
                "window functions on streams support only running "
                "aggregates — sum/count/min/max/avg OVER (PARTITION "
                "BY k ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING "
                "AND CURRENT ROW) — plus row_number()/rank()/"
                "dense_rank(), lag(), and first_value/last_value/"
                "nth_value; other analytic forms are batch-only "
                "(they need a finite partition order)")
        if e.func.distinct:
            raise PlanError(
                f"DISTINCT is not supported in window function {name}()")

        w = SW.partitionBy(*[comp(p) for p in e.partition_by])
        if e.order_by:
            w = w.orderBy(*[
                _sorted_col(comp(o.expr), o)
                for o in e.order_by])
        elif name in self._RANKING_FUNCS or name in self._OFFSET_FUNCS:
            raise PlanError(
                f"{name}() requires ORDER BY in its OVER clause")

        if e.frame is not None:
            if name in self._RANKING_FUNCS or name in self._OFFSET_FUNCS:
                raise PlanError(
                    f"{name}() does not accept a frame specification")
            lo = self._frame_bound(e.frame.start, SW)
            hi = self._frame_bound(e.frame.end, SW)
            if lo > hi:
                # e.g. BETWEEN 2 FOLLOWING AND 1 PRECEDING — Spark
                # would silently evaluate the empty frame to NULLs;
                # DuckDB rejects it, so the oracle premise demands an
                # error here too
                raise PlanError(
                    "inverted window frame (start bound is after the "
                    "end bound)")
            w = (w.rowsBetween(lo, hi) if e.frame.mode == "rows"
                 else w.rangeBetween(lo, hi))

        args = e.func.args
        if name in ("row_number", "rank", "dense_rank", "percent_rank",
                    "cume_dist"):
            if args:
                raise PlanError(f"{name}() takes no arguments")
            col = getattr(F, name)()
        elif name == "ntile":
            if len(args) != 1 or not isinstance(args[0], Lit) \
                    or not isinstance(args[0].value, int) \
                    or isinstance(args[0].value, bool) \
                    or args[0].value < 1:
                raise PlanError(
                    "ntile() takes one positive integer literal")
            col = F.ntile(args[0].value)
        elif name in self._OFFSET_FUNCS:
            if not 1 <= len(args) <= 3:
                raise PlanError(
                    f"{name}(col [, offset [, default]]) takes 1-3 "
                    "arguments")
            off = 1
            if len(args) >= 2:
                v = _plain_literal(args[1])
                if not isinstance(v, int) or isinstance(v, bool):
                    raise PlanError(
                        f"{name}() offset must be an integer literal")
                off = v
            dflt = None
            if len(args) == 3:
                # F.lag/lead take a PLAIN literal default (py4j
                # converts it; a Column is rejected as non-iterable)
                dflt = _plain_literal(args[2])
                if dflt is _NOT_LITERAL:
                    raise PlanError(
                        f"{name}() default must be a literal")
            if e.ignore_nulls and off != 0:
                # lag(x, k) IGNORE NULLS: PySpark's lag/lead lack the
                # ignoreNulls overload, so compile the exact public-API
                # rewrite — iterate ``last(CASE WHEN x IS NOT NULL
                # THEN y END, ignorenulls) OVER (... ROWS UNBOUNDED
                # PRECEDING .. 1 PRECEDING)`` k times: after m rounds
                # y is the m-th previous non-null (an earlier all-NULL
                # prefix stays NULL because the restriction to
                # non-null-x rows is monotone).  Catalyst plans the k
                # Window operators over ONE exchange + sort (k is a
                # small literal; each pass is O(1) state per row) —
                # differential-tested against Spark's native
                # ``lag(...) IGNORE NULLS`` expression.  (ORDER BY
                # presence was already enforced above for offset
                # functions.)
                y = comp(args[0])
                nn = y.isNotNull()
                # a negative offset flips direction on both engines:
                # lag(x, -k) IGNORE NULLS == lead(x, k) IGNORE NULLS
                # (pinned vs Spark's native expression) — without this
                # the rewrite gate would silently drop the null
                # treatment for negative offsets (review finding, r11)
                back = (name == "lag") == (off > 0)
                wf = (w.rowsBetween(SW.unboundedPreceding, -1) if back
                      else w.rowsBetween(1, SW.unboundedFollowing))
                pick = F.last if back else F.first
                for _ in range(abs(off)):
                    y = pick(F.when(nn, y), ignorenulls=True).over(wf)
                return y if dflt is None else F.coalesce(y, self._lit(dflt))
            # offset 0 is the current row on both engines, with or
            # without IGNORE NULLS (null treatment skips *prior* rows
            # only — pinned by test vs DuckDB's in-paren spelling)
            fn = F.lag if name == "lag" else F.lead
            col = fn(comp(args[0]), off, dflt)
        elif name == "nth_value":
            # frame-sensitive like first/last_value, but the picked
            # row index makes an unordered partition nondeterministic,
            # so ORDER BY is required (stricter than Spark's default —
            # the determinism premise every oracle rests on)
            if len(args) != 2:
                raise PlanError(
                    "nth_value(col, n) takes exactly two arguments")
            n = _plain_literal(args[1])
            if not isinstance(n, int) or isinstance(n, bool) or n < 1:
                raise PlanError(
                    "nth_value() n must be a positive integer literal")
            if not e.order_by:
                raise PlanError(
                    "nth_value() requires ORDER BY in its OVER clause")
            col = F.nth_value(comp(args[0]), n, e.ignore_nulls)
        elif name in self._VALUE_FUNCS:
            if len(args) != 1:
                raise PlanError(f"{name}() takes exactly one argument")
            fn = F.first if name == "first_value" else F.last
            col = fn(comp(args[0]), ignorenulls=e.ignore_nulls)
        elif self.registry.is_aggregate(name):
            if args and isinstance(args[0], Star):
                if name != "count":
                    raise PlanError(f"{name}(*) is not valid")
                col = F.count(self._lit(1))
            else:
                col = self.registry.build(
                    name, [comp(a) for a in args])
        else:
            raise PlanError(
                f"{name}() is not a supported window function "
                "(ranking, lag/lead, first_value/last_value, "
                "nth_value, or any registered aggregate)")
        return col.over(w)

    @staticmethod
    def _frame_bound(b: tuple, SW) -> int:
        if b[0] == "unbounded_preceding":
            return SW.unboundedPreceding
        if b[0] == "unbounded_following":
            return SW.unboundedFollowing
        if b[0] == "current":
            return SW.currentRow
        return -b[1] if b[0] == "preceding" else b[1]


class _AggContext:
    """Compile expressions evaluated per-group: aggregate calls build
    from their argument Columns (``agg_args``: compiled over the input
    frame, or hidden ``__a{j}`` columns when the aggregate projects
    first); grouping expressions map to their key Columns
    (``key_cols``); literals pass through."""

    def __init__(self, planner: Planner, group_exprs, key_cols,
                 agg_calls, agg_args):
        self.p = planner
        self.group_exprs = group_exprs
        self.key_cols = key_cols
        self.agg_calls = agg_calls
        self.agg_args = agg_args

    def compile(self, e) -> Column:
        # grouping expression match (structural equality via dataclasses)
        for i, g in enumerate(self.group_exprs):
            if e == g:
                return self.key_cols[i]
        if isinstance(e, FuncCall):
            if self.p.registry.is_aggregate(e.name):
                return self._agg(e)
            # scalar function over aggregate context, e.g. round(sum(x), 2)
            return self.p.registry.build(
                e.name, [self.compile(a) for a in e.args])
        if isinstance(e, Lit):
            return self.p._lit(e.value)
        if isinstance(e, Param):
            return self.p._lit(self.p._bind_param(e))
        if isinstance(e, BinOp):
            if e.op in ("<<", ">>"):
                if not isinstance(e.right, Lit):
                    raise PlanError("shift amount must be a literal")
                n = int(e.right.value)
                l = self.compile(e.left)
                return F.shiftleft(l, n) if e.op == "<<" else F.shiftright(l, n)
            return _apply_binop(e.op, self.compile(e.left),
                                self.compile(e.right))
        if isinstance(e, UnOp):
            x = self.compile(e.operand)
            return {"not": lambda: ~x, "-": lambda: -x,
                    "~": lambda: F.bitwise_not(x)}[e.op]()
        if isinstance(e, Case):
            c = None
            for cond, val in e.whens:
                cc, vv = self.compile(cond), self.compile(val)
                c = F.when(cc, vv) if c is None else c.when(cc, vv)
            if e.else_ is not None:
                c = c.otherwise(self.compile(e.else_))
            return c
        if isinstance(e, Cast):
            return self.compile(e.expr).cast(_cast_type(e))
        if isinstance(e, IntervalLit):
            return F.expr(f"INTERVAL {e.value} {e.unit}")
        if isinstance(e, Subscript):
            return F.try_element_at(self.compile(e.expr),
                                    self.compile(e.index))
        if isinstance(e, Between):
            c = self.compile(e.expr).between(
                self.compile(e.lo), self.compile(e.hi))
            return ~c if e.negated else c
        if isinstance(e, IsNull):
            x = self.compile(e.expr)
            return x.isNotNull() if e.negated else x.isNull()
        if isinstance(e, InList):
            x = self.compile(e.expr)
            c = x.isin(*[self.compile(i) for i in e.items])
            return ~c if e.negated else c
        if isinstance(e, Col):
            raise PlanError(
                f"column {e.name!r} must appear in GROUP BY or inside an "
                "aggregate function")
        raise PlanError(
            f"cannot compile {type(e).__name__} in aggregate context")

    def _agg(self, call: FuncCall) -> Column:
        args = self.agg_args[id(call)]
        name = call.name.lower()
        if args is None:                         # count(*)
            return F.count(self.p._lit(1))
        if call.distinct:
            if len(args) != 1 or isinstance(call.args[0], (Lit, Param)):
                raise PlanError(
                    f"{name}(DISTINCT ...) takes one column argument")
            if name == "count":
                return F.countDistinct(args[0])
            if name == "sum":
                return F.sum_distinct(args[0])
            # no Column builder: SQL text over the hidden argument
            # column _plan_aggregate projected for it
            j = next(j for j, c in enumerate(self.agg_calls) if c is call)
            return F.expr(f"{name}(DISTINCT __a{j})")
        return self.p.registry.build(name, args)


class _PostAggContext(_AggContext):
    """Compile expressions AFTER aggregation: grouping expressions and
    aggregate calls resolve to the aggregated frame's columns (the
    ``__g{i}`` keys and ``__w{n}`` hidden aggregate outputs), and
    window functions compile over that frame — the ANSI evaluation
    order for `rank() over (order by sum(x)) … group by g`."""

    def __init__(self, planner, group_exprs, g_names, agg_cols, res):
        super().__init__(planner, group_exprs,
                         [planner._col(n) for n in g_names], [], {})
        self.agg_cols = agg_cols        # list[(FuncCall, hidden_name)]
        self.res = res
        # QUALIFY alias substitution (lowercase output alias -> column
        # of the aggregated frame); set only while the QUALIFY
        # predicate compiles
        self.alias_map: Optional[dict] = None

    def compile(self, e) -> Column:
        if self.alias_map is not None and isinstance(e, Col) \
                and e.binding is None:
            c = self.alias_map.get(e.name.lower())
            if c is not None:
                return c
        if isinstance(e, WindowFunc):
            return self.p._compile_window_func(
                e, self.res, compile=self.compile)
        return super().compile(e)

    def _agg(self, call: FuncCall) -> Column:
        for c, h in self.agg_cols:
            if call == c:
                return self.p._col(h)
        raise PlanError(
            f"internal: aggregate {call.name}() inside a window item "
            "was not materialized")


# Spark builtins that are Nondeterministic: each evaluation may
# differ, and an unseeded call draws its seed where it is analyzed
_NONDETERMINISTIC_FUNCS = frozenset({
    "rand", "random", "randn", "randstr", "uniform", "uuid", "shuffle",
    "monotonically_increasing_id", "spark_partition_id",
    "input_file_name", "input_file_block_start",
    "input_file_block_length", "reflect", "java_method", "try_reflect",
})


def _conjuncts(e):
    """The AND-ed parts of ``e``, left to right."""
    if isinstance(e, BinOp) and e.op == "and":
        yield from _conjuncts(e.left)
        yield from _conjuncts(e.right)
    else:
        yield e


def _nondeterministic(e) -> bool:
    return any(isinstance(x, FuncCall)
               and x.name.lower() in _NONDETERMINISTIC_FUNCS
               for x in walk_expr(e))


def _named_distinct(call: FuncCall) -> bool:
    """A DISTINCT aggregate with no Column builder (anything but
    count/sum): _AggContext writes it as SQL text over a hidden
    argument column."""
    return call.distinct and call.name.lower() not in ("count", "sum")


def _ordinal(e) -> Optional[int]:
    """ANSI ordinal reference: a bare integer literal in ORDER BY /
    GROUP BY names the 1-based select-list position (engine extension
    matching Spark SQL's and DuckDB's own defaults, so both planner
    paths agree)."""
    if isinstance(e, Lit) and isinstance(e.value, int) \
            and not isinstance(e.value, bool):
        return int(e.value)
    return None


def _cast_type(e: Cast):
    """CAST target: the DDL palette (catalog._TYPE_MAP) plus
    parameterized decimal(p, s)."""
    from pyspark.sql import types as T

    from .catalog import _TYPE_MAP
    if e.type_name == "decimal" and e.precision is not None:
        if not (1 <= e.precision <= 38) or \
                not (0 <= (e.scale or 0) <= e.precision):
            raise PlanError(
                f"invalid decimal({e.precision}, {e.scale}) — precision "
                "1..38, scale 0..precision")
        return T.DecimalType(e.precision, e.scale or 0)
    return _TYPE_MAP[e.type_name]


def _expr_contains_winfunc(e) -> bool:
    return any(isinstance(x, WindowFunc) for x in walk_expr(e))


def _apply_binop(op: str, l: Column, r: Column) -> Column:
    """Operator table shared by both compile contexts.
    ``/`` and ``%`` use try_divide/try_mod: nullable results with NULL
    on a zero divisor, matching the reference's nullable-Double division
    rule (flinkdsl/typer.scala_:243-244) even under Spark 4's
    ANSI-by-default sessions, where plain ``/`` raises instead."""
    table = {
        "+": lambda: l + r,
        "-": lambda: l - r,
        "*": lambda: l * r,
        "/": lambda: F.try_divide(l, r),
        "%": lambda: F.try_mod(l, r),
        "=": lambda: l == r,
        "!=": lambda: l != r,
        "<": lambda: l < r,
        ">": lambda: l > r,
        "<=": lambda: l <= r,
        ">=": lambda: l >= r,
        "and": lambda: l & r,
        "or": lambda: l | r,
        "|": lambda: l.bitwiseOR(r),
        "&": lambda: l.bitwiseAND(r),
        "^": lambda: l.bitwiseXOR(r),
        "like": lambda: F.like(l, r),
        "ilike": lambda: F.ilike(l, r),
        "<=>": lambda: l.eqNullSafe(r),      # IS NOT DISTINCT FROM
    }
    try:
        return table[op]()
    except KeyError:
        raise PlanError(f"unknown operator {op}")


def _sorted_col(c: Column, o: OrderItem) -> Column:
    """Apply an OrderItem's direction + explicit null placement to a
    column (None keeps Spark's defaults: asc=NULLS FIRST,
    desc=NULLS LAST)."""
    if o.nulls == "first":
        return c.asc_nulls_first() if o.ascending else c.desc_nulls_first()
    if o.nulls == "last":
        return c.asc_nulls_last() if o.ascending else c.desc_nulls_last()
    return c.asc() if o.ascending else c.desc()


_NOT_LITERAL = object()


def _valid_weight(wv) -> bool:
    """A usable mixture weight: a finite positive number.  isfinite
    also rejects 'nan'/'inf' (which float() parses) — NaN passes
    every comparison gate and silently corrupts the rate algebra
    (NaN sorts greatest in Spark, least(1.0, NaN) = 1.0); inf
    collapses the feasible total to 0."""
    return wv is not None and math.isfinite(wv) and wv > 0


def _cols_outside_windows(exprs):
    """Names of the columns the expressions reference outside window
    functions (a window function's own args and keys are consumed by
    the stateful pass)."""
    stack = [e for e in exprs if e is not None]
    while stack:
        e = stack.pop()
        if isinstance(e, WindowFunc):
            continue
        if isinstance(e, Col):
            yield e.name
        stack.extend(expr_children(e))


def _plain_literal(e):
    """The Python value of a literal expression, unwrapping a unary
    minus (``-1`` parses as UnOp('-', Lit(1))); _NOT_LITERAL if the
    expression is anything else."""
    if isinstance(e, Lit):
        return e.value
    if isinstance(e, UnOp) and e.op == "-" and isinstance(e.operand, Lit) \
            and isinstance(e.operand.value, (int, float)):
        return -e.operand.value
    return _NOT_LITERAL


def _item_name(item: SelectItem, i: int) -> str:
    if item.alias:
        return item.alias
    if isinstance(item.expr, Col):
        return item.expr.name
    if isinstance(item.expr, FuncCall):
        return item.expr.name
    if isinstance(item.expr, WindowFunc):
        return item.expr.func.name
    return f"_c{i}"


def _apply_limit_offset(df: DataFrame, limit: Optional[int],
                        offset: Optional[int]) -> DataFrame:
    if offset is not None:
        df = df.offset(offset)
    if limit is not None:
        df = df.limit(limit)
    return df


def _setop_order_index(s: SetOp, o: OrderItem, df: DataFrame) -> int:
    pos = _ordinal(o.expr)
    if pos is not None:
        if 1 <= pos <= len(df.columns):
            return pos - 1
        raise PlanError(
            f"ORDER BY position {pos} is not in the select list "
            f"(1..{len(df.columns)})")
    if isinstance(o.expr, Col) and o.expr.qualifier is None:
        try:
            return [c.lower() for c in df.columns].index(o.expr.name.lower())
        except ValueError:
            pass
    raise PlanError("set-operation ORDER BY must reference output columns "
                    "by name or 1-based position")
