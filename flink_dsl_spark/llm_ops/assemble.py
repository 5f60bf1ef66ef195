"""Training-set assembly operators: deterministic splits and
token-budget sequence packing.

Both are built for the 100 TB regime: splitting is a stateless per-row
hash (no shuffle at all — it composes with any scan), and packing is
partition-local after one hash repartition, so no global coordination
ever happens.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 1_000_000


def _xxhash_id(c, seed: int):
    return F.xxhash64(c, F.lit(seed))


# static codomains (r14): a seeded id hash's value range is known a
# priori, so range-bucketing on it never needs the one-pass min/max
# scan _range_bucket otherwise runs — one full corpus pass saved per
# prefix-sum operator (token_budget / shard_corpus / shuffle rank).
_xxhash_id.hash_range = (float(-(1 << 63)), float(1 << 63))


def md5_id_hash(c, seed: int, lit=F.lit):
    """Cross-engine deterministic id hash (same pattern as
    dedup.md5_token_hash): 60-bit value of ``md5(id || ':' || seed)``,
    bit-identical to DuckDB's
    ``CAST(concat('0x', substr(md5(concat(id, ':', seed)), 1, 15)) AS
    BIGINT)`` — lets the split / shuffle / sample assignments be
    value-oracled.  xxhash64 stays the production default (one JVM
    intrinsic vs an md5 + string round-trip).  F.concat rather than
    concat_ws — concat_ws silently SKIPS a NULL id (hashing just the
    seed), while concat propagates NULL, matching the oracle's
    concat(NULL, ':', seed) = NULL on both engines.  ``lit`` builds
    the literal handles (the planner passes its memo)."""
    s = F.concat(c.cast("string"), lit(":"), lit(str(seed)))
    return F.conv(F.substring(F.md5(s), lit(1), lit(15)),
                  16, 10).cast("long")


md5_id_hash.hash_range = (0.0, float(1 << 60))  # 15 hex digits


def split_dataset(df: DataFrame, id_col: str,
                  fractions: dict[str, float],
                  seed: int = 42, id_hash=None) -> DataFrame:
    """Assign every row to a named split (train/val/test/...) by a
    deterministic hash of its id: adds a ``split`` column.

    Properties that matter for dataset curation, all consequences of
    hashing the ID rather than sampling: (a) reproducible across runs,
    clusters, and partitionings; (b) STABLE under corpus growth — adding
    or removing other documents never moves an existing document between
    splits (no leakage of yesterday's train rows into today's test);
    (c) zero shuffle — it is a projection.

    ``fractions`` must sum to 1 (within 1e-6)."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-6:
        raise ValueError(f"fractions must sum to 1, got {total}")
    if id_hash is None:
        id_hash = _xxhash_id
    bucket = F.pmod(id_hash(F.col(id_col), seed), F.lit(_BUCKETS))
    expr = None
    acc = 0.0
    items = list(fractions.items())
    for name, frac in items[:-1]:
        acc += frac
        cond = bucket < int(round(acc * _BUCKETS))
        expr = (F.when(cond, F.lit(name)) if expr is None
                else expr.when(cond, F.lit(name)))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", expr)


def seeded_shuffle(df: DataFrame, id_col: str, seed: int = 42,
                   rank: bool = False, id_hash=None) -> DataFrame:
    """Deterministic global shuffle for training-data ordering: adds a
    ``shuffle_key`` column (xxhash64 of id + seed) and returns the rows
    range-partitioned and sorted by it — the same permutation on every
    run, every cluster size, every input partitioning.

    This is the scalable formulation of "shuffle the corpus": a random()
    sort is irreproducible and a zipWithIndex is a serialization point,
    while a hash key is a pure projection; downstream writers that
    consume partitions in order see the permuted stream.  With
    ``rank=True`` a ``shuffle_rank`` column materializes the explicit
    0-based position via the distributed two-phase numbering
    (streaming.windows._global_index — batch only, costs one extra
    column-pruned pass)."""
    if id_hash is None:
        id_hash = _xxhash_id
    key = id_hash(F.col(id_col), seed)
    out = df.withColumn("shuffle_key", key)
    parts = df.sparkSession.sparkContext.defaultParallelism
    out = (out.repartitionByRange(parts, "shuffle_key")
              .sortWithinPartitions("shuffle_key"))
    if rank:
        from ..streaming.windows import _column_type, _global_index
        # the order key is the seeded hash itself: static codomain (no
        # min/max pass) and no collected counts (the rank never needs
        # the total) — the numbering is one lazy plan, zero eager jobs
        out = _global_index(
            out, F.col("shuffle_key"), "shuffle_rank",
            known_range=getattr(id_hash, "hash_range", None),
            dtype=_column_type(out, "shuffle_key"))
        out = out.withColumn("shuffle_rank", F.col("shuffle_rank") - 1)
    return out


def stratified_sample(df: DataFrame, strata_col: str, id_col: str,
                      fractions: dict, seed: int = 42,
                      id_hash=None) -> DataFrame:
    """Deterministic per-stratum sampling: keep a hash-selected
    ``fractions[stratum]`` of each stratum's rows (strata absent from
    the dict are dropped).

    Like split_dataset, selection hashes the ID — reproducible, stable
    under corpus growth, zero shuffle (pure filter, composes with scan
    pushdown).  Unlike df.sampleBy, re-running on a grown corpus keeps
    every previously-sampled row's fate unchanged."""
    for k, v in fractions.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"fraction for {k!r} must be in [0,1]")
    if id_hash is None:
        id_hash = _xxhash_id
    bucket = F.pmod(id_hash(F.col(id_col), seed), F.lit(_BUCKETS))
    cond = None
    for name, frac in fractions.items():
        c = (F.col(strata_col) == F.lit(name)) & \
            (bucket < int(round(frac * _BUCKETS)))
        cond = c if cond is None else cond | c
    if cond is None:
        raise ValueError("fractions must name at least one stratum")
    return df.filter(cond)


def cap_per_group(df: DataFrame, group_col: str, id_col: str,
                  k: int, seed: int = 42, id_hash=None) -> DataFrame:
    """Uniform ``k``-per-group cap: keep the ``k`` documents of every
    group whose seeded id hash is smallest — the anti-domination cut
    ("at most k docs per domain") that stops a handful of giant web
    domains from owning the corpus.  Unlike ``stratified_sample``
    (FRACTION per stratum) this bounds the absolute COUNT, and unlike
    ``topk_per_group`` (quality-ranked) the selection is an unbiased
    uniform sample: the hash order is independent of any document
    property.  Deterministic, and growth-stable in the bottom-k sense:
    a new document displaces at most the current k-th pick.

    Returns (group, id, rank) with rank 1-based in hash order, ties
    broken by ascending id.  Scale shape: ONE hash shuffle on the
    group key; Spark's WindowGroupLimit keeps only k rows per group
    DURING the sort (plan-gated like topk_per_group), so a
    billion-row domain never materializes a billion-row sort buffer.
    ``id_hash``: md5_id_hash is the cross-engine (oracle) choice
    (llm72); xxhash64 the production default."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    if id_hash is None:
        id_hash = _xxhash_id
    h = id_hash(F.col(id_col), seed)
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return (df.select(group_col, id_col)
              .withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= k)
              .orderBy(group_col, "rank"))


_P60 = 1 << 60  # md5_id_hash range; 2^60 (a power of two, so /2^60
                # is an EXACT float scaling — see priority_sample)


def dlt_priority(id_col, weight_col, seed: int = 42,
                 id_hash=None):
    """The Duffield-Lund-Thorup priority ``q = u / w`` as a Column:
    u = (pmod(hash, 2^60) + 1) / 2^60 (exact power-of-two scaling of
    a correctly-rounded long->double conversion), one correctly-
    rounded division by the weight.  Shared by priority_sample and
    the planner's priority_sample hint so the key algebra exists in
    exactly one place."""
    if id_hash is None:
        id_hash = _xxhash_id
    h = F.pmod(id_hash(F.col(id_col), seed), F.lit(_P60))
    u = (h + F.lit(1)).cast("double") / F.lit(float(_P60))
    return u / F.col(weight_col).cast("double")


def _dlt_w_est(weight_col: str, tau_col: str) -> Column:
    """The DLT unbiased subset-sum estimator max(w, 1/q_(k+1)) with
    the exhaustive case (no threshold → w_est = w) — ONE definition
    shared by the global and stratified samplers so the
    bit-exactness-critical formula cannot drift between them."""
    w = F.col(weight_col).cast("double")
    return (F.when(F.col(tau_col).isNull(), w)
             .otherwise(F.greatest(w, F.lit(1.0) / F.col(tau_col))))


def priority_sample(df: DataFrame, id_col: str, weight_col: str,
                    k: int, seed: int = 42, id_hash=None,
                    with_estimate: bool = False) -> DataFrame:
    """Weighted sample WITHOUT replacement of ``k`` rows, inclusion
    probability increasing in weight — Duffield–Lund–Thorup priority
    sampling (JACM 54(6), 2007): every row draws a priority
    ``q = u / w`` with ``u`` a deterministic uniform in (0, 1] from
    the seeded id hash, and the ``k`` SMALLEST priorities win.  The
    canonical "sample big documents more often" corpus cut, with the
    near-optimal subset-sum variance the paper proves.

    The key is ``u / w`` rather than Efraimidis-Spirakis'
    ``u ** (1/w)`` for cross-engine exactness: u = (h+1) / 2^60 is a
    long-to-double conversion (correctly rounded IEEE) followed by an
    EXACT power-of-two scaling, and the / w is one correctly-rounded
    double division — every engine (JVM, CPython, DuckDB) produces the
    identical bit pattern, where pow/log go through libm and can
    drift a ulp.  Both schemes sample proportionally-to-weight without
    replacement; only the inclusion-probability fine print differs.

    Rows with NULL or non-positive weight are excluded (a weight of 0
    means "never sample" in any PPS scheme), and so are NULL ids: the
    hash of NULL is NULL, so the priority would be NULL — Spark sorts
    NULLS FIRST and DuckDB NULLS LAST, and a silent cross-engine
    divergence (Spark always picking the NULL-id row, DuckDB never)
    is worse than an explicit exclusion rule.  Ties (astronomically
    unlikely with distinct ids) break by ascending id.

    Returns (id, weight, samp_priority) ordered by priority.  With
    ``with_estimate=True`` a ``w_est`` column carries the DLT
    unbiased subset-sum estimator max(w, 1/q_(k+1)) — the paper
    states it for priorities w/u taking the k LARGEST, whose
    threshold tau is the (k+1)-th largest; under this module's
    inverted key u/w that threshold is 1 over the (k+1)-th smallest
    samp_priority.  When the population has <= k rows the sample is
    exhaustive and w_est = w.  Summing w_est over any sampled subset
    estimates that subset's true total weight.

    Scale shape: pure projection + TakeOrderedAndProject (per-partition
    top-k heap, driver-side merge of k rows per partition) — no global
    sort, no shuffle.  The estimate path re-ranks only the k+1
    selected rows (a bounded single-partition window over k+1 rows,
    same bounded-verifier class as brute-force ANN).
    ``id_hash``: md5_id_hash is the cross-engine (oracle) choice;
    xxhash64 the production default (its full signed range folds into
    [0, 2^60) via pmod — a no-op on the md5 path)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    w = F.col(weight_col).cast("double")
    out = (df.filter(w.isNotNull() & (w > 0)
                     & F.col(id_col).isNotNull())
             .select(id_col, weight_col,
                     dlt_priority(id_col, weight_col, seed, id_hash)
                     .alias("samp_priority"))
             .orderBy("samp_priority", id_col))
    if not with_estimate:
        return out.limit(k)
    from pyspark.sql import Window

    top = out.limit(k + 1)
    ww = Window.orderBy("samp_priority", F.col(id_col))
    ranked = (top.withColumn("__ps_rn", F.row_number().over(ww))
                 .withColumn("__ps_tau",
                             F.max(F.when(F.col("__ps_rn") == k + 1,
                                          F.col("samp_priority")))
                              .over(ww.rowsBetween(
                                  Window.unboundedPreceding,
                                  Window.unboundedFollowing))))
    return (ranked.filter(F.col("__ps_rn") <= k)
                  .withColumn("w_est",
                              _dlt_w_est(weight_col, "__ps_tau"))
                  .drop("__ps_rn", "__ps_tau"))


def priority_sample_stratified(df: DataFrame, id_col: str,
                               weight_col: str, stratum_col: str,
                               k: int, seed: int = 42,
                               id_hash=None,
                               with_estimate: bool = False) -> DataFrame:
    """:func:`priority_sample` per stratum: an independent
    Duffield–Lund–Thorup weighted sample WITHOUT replacement of up to
    ``k`` rows from EACH distinct ``stratum_col`` value — the
    corpus-mixture sampling shape ("k documents per domain, big
    documents more often").  The priority key u/w, the exclusion
    rules (NULL/non-positive weight, NULL id), the seeded id hash,
    and the cross-engine bit-exactness argument are exactly
    priority_sample's; per-stratum independence is free because the
    priority never reads the stratum.  A NULL stratum is its own
    stratum (both Spark and DuckDB group NULLs together).

    Returns (stratum, id, weight, samp_priority) ordered by
    (stratum, samp_priority, id); strata with <= k eligible rows are
    exhaustive.  With ``with_estimate=True`` a ``w_est`` column
    carries the PER-STRATUM DLT unbiased subset-sum estimator
    max(w, 1/q_(k+1)) — q_(k+1) is that stratum's (k+1)-th smallest
    priority; an exhaustive stratum has no threshold and w_est = w
    (exactly priority_sample's estimator, applied within each
    stratum — summing w_est over any sampled subset of a stratum
    estimates that subset's true total weight).

    Scale shape: pure projection + per-stratum top-k, which Spark
    plans as WindowGroupLimit in Partial mode BEFORE the stratum
    exchange — each map task forwards at most k rows per stratum, so
    the ONE shuffle carries O(tasks * strata * k) rows, never the
    corpus (plan-gated in tests).  Contrast the global form's
    TakeOrderedAndProject (zero shuffle): the stratified cut needs
    the keyed exchange, the global cut does not."""
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    w = F.col(weight_col).cast("double")
    base = (df.filter(w.isNotNull() & (w > 0)
                      & F.col(id_col).isNotNull())
              .select(stratum_col, id_col, weight_col,
                      dlt_priority(id_col, weight_col, seed, id_hash)
                      .alias("samp_priority")))
    win = (Window.partitionBy(stratum_col)
                 .orderBy("samp_priority", F.col(id_col)))
    rn = "__pss_rn"
    while rn in base.columns:
        rn += "_"
    ranked = base.withColumn(rn, F.row_number().over(win))
    if not with_estimate:
        return (ranked.filter(F.col(rn) <= k).drop(rn)
                      .orderBy(stratum_col, "samp_priority",
                               F.col(id_col)))
    # estimator path: keep k+1 rows per stratum (WindowGroupLimit
    # still bounds the exchange), then a SECOND window over that
    # <= (k+1)-per-stratum frame lifts the threshold q_(k+1) to every
    # surviving row — the same bounded-re-rank class as
    # priority_sample's estimator, just keyed by stratum.
    # tau gets the same collision guard as rn (withColumn silently
    # REPLACES a same-named user column); w_est is the documented
    # OUTPUT name, so a clashing input column is an error, not a
    # silent overwrite
    tau = rn + "_tau"
    while tau in base.columns:
        tau += "_"
    if "w_est" in base.columns:
        raise ValueError(
            "with_estimate=True writes a 'w_est' column — rename the "
            "input column 'w_est' first")
    full = (Window.partitionBy(stratum_col)
                  .rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing))
    return (ranked.filter(F.col(rn) <= k + 1)
                  .withColumn(tau, F.max(
                      F.when(F.col(rn) == k + 1,
                             F.col("samp_priority"))).over(full))
                  .filter(F.col(rn) <= k)
                  .withColumn("w_est", _dlt_w_est(weight_col, tau))
                  .drop(rn, tau)
                  .orderBy(stratum_col, "samp_priority",
                           F.col(id_col)))


def token_budget_sample(df: DataFrame, id_col: str, tokens_col: str,
                        budget: int, seed: int = 42,
                        id_hash=None) -> DataFrame:
    """Deterministic token-budget corpus cut: order documents by an id
    hash (a reproducible pseudo-random permutation) and keep the prefix
    whose running token total stays <= ``budget``.  Returns
    (id, n_tokens, cum_tokens) for the kept prefix.

    This is "sample N tokens from the corpus" done scalably: a random()
    sort is irreproducible, and a naive running sum is a
    single-partition window.  Here the running sum is distributed the
    same way seeded_shuffle's rank is: range-bucket rows on the hash
    key, collect only the per-bucket token SUBTOTALS (<= parallelism+2
    longs), rebase each bucket with its broadcast prefix offset, and
    cumsum inside buckets in parallel.  Buckets whose offset already
    exceeds the budget are pruned BEFORE the window runs — cutting
    1 B tokens out of a 100 TB corpus windows only the few buckets
    that straddle the cut, and scan pushdown still prunes to
    (id, tokens) columns.

    Hash-ordering also makes the cut STABLE under corpus growth the
    way split_dataset is: growing the corpus reshuffles nothing —
    a document's position in the permutation never changes, so
    yesterday's sample is a prefix-superset of today's only where the
    budget boundary moved."""
    d = df.select(F.col(id_col).alias("id"),
                  F.col(tokens_col).cast("long").alias("n_tokens"))
    return token_budget_filter(d, "id", "n_tokens", budget, seed=seed,
                               id_hash=id_hash, cum_col="cum_tokens")


def token_budget_filter(df: DataFrame, id_col: str, tokens_col: str,
                        budget: int, seed: int = 42, id_hash=None,
                        cum_col: str | None = None, *,
                        col=F.col, lit=F.lit) -> DataFrame:
    """The cut behind ``token_budget_sample``, keeping EVERY input
    column (the dialect ``token_budget`` hint's shape — sample is the
    (id, n_tokens, cum_tokens) projection of this filter).  Orders
    rows by the seeded id hash and keeps the prefix whose running
    ``tokens_col`` total stays <= ``budget``.  ``cum_col``: when set,
    the running total is kept under that name (cast long); otherwise
    all bookkeeping columns are dropped.  ``col``/``lit`` build column
    and literal handles (the planner passes its memos).

    Distributed shape (same as the sample): range-bucket on the hash
    key, collect only per-bucket token SUBTOTALS (<= parallelism+2
    longs), rebase each bucket with its broadcast prefix offset, prune
    whole buckets past the budget BEFORE the window runs — so cutting
    1 B tokens out of a 100 TB corpus windows only the buckets that
    straddle the cut."""
    if id_hash is None:
        id_hash = _xxhash_id
    from ..streaming.windows import (_column_type, _lazy_prefix_offsets,
                                     _range_bucket)
    from pyspark.sql.window import Window as W

    spark = df.sparkSession
    buckets = spark.sparkContext.defaultParallelism

    # bookkeeping names must not shadow an input column — a second
    # same-named column would make every reference to it ambiguous,
    # which would break a user frame that happens to carry e.g.
    # "__tb_key" through the hint path
    taken = set(df.columns)

    def _fresh(base: str) -> str:
        name, i = base, 0
        while name in taken:
            i += 1
            name = f"{base}{i}"
        taken.add(name)
        return name
    key, bkt, off, n = (_fresh("__tb_key"), _fresh("__tb_bkt"),
                        _fresh("__tb_off"), _fresh("__tb_n"))
    keyed = df.select(col("*"), id_hash(col(id_col), seed).alias(key),
                      col(tokens_col).cast("long").alias(n))
    # the order key is a seeded hash with a statically-known codomain,
    # so range-bucketing needs no min/max pass; the per-bucket prefix
    # offsets are built LAZILY (sum aggregate + one cumulative window
    # over <= buckets+3 rows) inside the same plan — the whole cut is
    # one action with zero eager driver jobs, where the r13 shape ran
    # a min/max scan plus a subtotal-collect scan before the query
    # even started (guide §1.2 / §5: remove passes, keep the driver
    # out of the data path).
    d, bucket = _range_bucket(
        keyed, col(key), buckets, _column_type(keyed, key),
        known_range=getattr(id_hash, "hash_range", None),
        col=col, lit=lit)
    d = d.select(keyed["*"], bucket.alias(bkt))
    off_df = _lazy_prefix_offsets(d, bkt, F.sum(col(n)), off,
                                  col=col, lit=lit)
    w = (W.partitionBy(col(bkt)).orderBy(col(key), col(id_col))
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    cum = cum_col or _fresh("__tb_cum")
    budget = int(budget)
    out = (d.join(F.broadcast(off_df), bkt)
            .filter(col(off) <= budget)
            .select(df["*"], (col(off) + F.sum(col(n)).over(w))
                    .cast("long").alias(cum))
            .filter(col(cum) <= budget))
    return out if cum_col else out.select(df["*"])


def domain_mixture(df: DataFrame, domain_col: str, id_col: str,
                   tokens_col: str, weights: dict[str, float],
                   seed: int = 42, id_hash=None) -> DataFrame:
    """Downsample-only mixture rebalancing (the Pile / DoReMi recipe
    applied to a fixed corpus): choose per-domain keep-rates so the
    selected corpus's expected token shares match ``weights``, without
    ever upsampling.  The binding domain — the one whose
    tokens/weight ratio is smallest — keeps rate 1.0 and every other
    domain is hash-downsampled to ``w_d * T / tokens_d`` where
    ``T = min_d tokens_d / w_d`` is the largest feasible mixture total.

    Returns the kept rows as (id, domain, n_tokens).

    Weights must be finite and >= 0 (see _check_mixture_weights).

    Scale shape: one partial-aggregated groupBy computes per-domain
    token totals (|domains| rows), the feasible total is a scalar agg
    over that tiny frame, and the rates table broadcast-joins back —
    the corpus itself is touched by exactly one agg pass and one
    filter, both column-pruned.  Selection hashes document ids
    (split_dataset's bucket trick), so membership is reproducible and
    stable under corpus growth.  Domains missing from ``weights`` are
    dropped; weights naming absent domains are ignored."""
    dom = _weights_dom_frame(df, domain_col, tokens_col, weights)
    return _mixture_select(df, dom, domain_col, id_col, tokens_col,
                           seed, id_hash)


def _weights_dom_frame(df: DataFrame, domain_col: str, tokens_col: str,
                       weights: dict[str, float], *,
                       col=F.col, lit=F.lit) -> DataFrame:
    """Per-domain token totals joined to the validated explicit weight
    map — the (domain, __tok, __w) frame every weighted mixture entry
    point shares, so the rate algebra exists in exactly one place
    (_mixture_keep).  Zero-weight and unnamed domains drop here.  The
    weight is a function of the grouping key, so the aggregate
    computes it beside the totals."""
    _check_mixture_weights(weights)
    wmap = F.create_map(*[lit(x) for kv in weights.items()
                          for x in (kv[0], float(kv[1]))])
    dom = col(domain_col)
    w = col("__w")
    return (df.groupBy(dom.alias("domain"))
              .agg(F.sum(col(tokens_col).cast("long"))
                    .cast("double").alias("__tok"),
                   wmap[dom].alias("__w"))
              .filter(w.isNotNull() & (w > 0)))


def domain_mixture_temperature(df: DataFrame, domain_col: str,
                               id_col: str, tokens_col: str,
                               temperature: float, seed: int = 42,
                               id_hash=None) -> DataFrame:
    """Downsample-only mixture rebalancing toward TEMPERATURE-scaled
    token shares (the multilingual / DoReMi-init recipe: target share
    of domain d is proportional to ``tokens_d^(1/temperature)``, so
    T=1 keeps natural proportions and T→∞ approaches uniform) —
    ``domain_mixture`` with the weights derived in-plan from the
    corpus itself instead of passed in.

    The weights stay UNNORMALIZED: the mixture algebra (feasible total
    T = min(tok/w), keep-rate w*T/tok) is invariant under scaling all
    weights by a constant, so dividing by the share normalizer would
    only add a float op to the oracle premise.  ``temperature=2`` is
    the cross-engine-oracled configuration (llm63): w = sqrt(tokens),
    and IEEE-754 requires sqrt to be correctly rounded, so the JVM and
    DuckDB agree bit-for-bit.  Other temperatures go through
    ``pow`` — same libm on one platform, but only 1-ulp-accurate
    across platforms, so they are production configs, not oracle
    configs.

    Same scale shape as domain_mixture: one column-pruned agg pass
    over the corpus, a |domains|-row rates table broadcast back, one
    hash filter."""
    if not float(temperature) > 0:
        raise ValueError("temperature must be > 0")
    inv = 1.0 / float(temperature)
    dom = (df.groupBy(F.col(domain_col).alias("domain"))
             .agg(F.sum(F.col(tokens_col).cast("long"))
                   .cast("double").alias("__tok"))
             .withColumn("__w",
                         F.sqrt(F.col("__tok")) if inv == 0.5
                         else F.pow(F.col("__tok"), F.lit(inv)))
             .filter(F.col("__tok") > 0))
    return _mixture_select(df, dom, domain_col, id_col, tokens_col,
                           seed, id_hash)


def _mixture_keep(df: DataFrame, dom: DataFrame, domain_col: str,
                  id_col: str, seed: int, id_hash, *,
                  col=F.col, lit=F.lit) -> DataFrame:
    """Shared mixture tail keeping EVERY input column: feasible total
    from the (domain, __tok, __w) frame, keep-rates broadcast back,
    id-hash membership as part of the join condition.  Domains absent
    from the rates frame are dropped (inner join)."""
    if id_hash is None:
        id_hash = _xxhash_id
    total = dom.select(F.min(col("__tok") / col("__w")).alias("__total"))
    rate = F.least(lit(1.0), col("__w") * col("__total") / col("__tok"))
    rates = (dom.crossJoin(F.broadcast(total))
                .select(col("domain"),
                        F.round(rate * _BUCKETS).cast("long")
                         .alias("__thresh")))
    bucket = F.pmod(id_hash(df[id_col], seed), lit(_BUCKETS))
    keep = (df[domain_col] == rates["domain"]) \
        & (bucket < rates["__thresh"])
    return df.join(F.broadcast(rates), keep).select(df["*"])


def _mixture_select(df: DataFrame, dom: DataFrame, domain_col: str,
                    id_col: str, tokens_col: str, seed: int,
                    id_hash) -> DataFrame:
    """_mixture_keep projected to the (id, domain, n_tokens) API
    shape."""
    kept = _mixture_keep(df, dom, domain_col, id_col, seed, id_hash)
    return kept.select(F.col(id_col).alias("id"),
                       F.col(domain_col).alias("domain"),
                       F.col(tokens_col).cast("long").alias("n_tokens"))


def domain_mixture_filter(df: DataFrame, domain_col: str, id_col: str,
                          tokens_col: str, weights: dict[str, float],
                          seed: int = 42, id_hash=None, *,
                          col=F.col, lit=F.lit) -> DataFrame:
    """``domain_mixture``'s cut keeping EVERY input column (the
    dialect ``mixture`` hint's shape — the API's (id, domain,
    n_tokens) frame is a projection of this filter).  Same algebra:
    feasible total T = min_d tokens_d / w_d, keep-rate
    min(1, w_d * T / tokens_d), membership by seeded id hash, so the
    selection is reproducible and downsample-only.  Scale shape is
    domain_mixture's: one partial-aggregated pass for the per-domain
    totals, a broadcast rates join, one filter."""
    dom = _weights_dom_frame(df, domain_col, tokens_col, weights,
                             col=col, lit=lit)
    return _mixture_keep(df, dom, domain_col, id_col, seed, id_hash,
                         col=col, lit=lit)


def temperature_scaled_weights(weights: dict[str, float],
                               temperature: float) -> dict[str, float]:
    """Temperature-flatten an EXPLICIT prior-weights table:
    ``w' = w^(1/T)`` — T=1 keeps the priors, T→∞ approaches uniform
    over the named domains (the hand-tuned-mixture analog of
    ``domain_mixture_temperature``'s natural-share flattening; the
    mixture algebra is scale-invariant so the result stays
    unnormalized, the same premise as the natural-share variant).

    T=2 is the oracle configuration: ``sqrt`` is correctly rounded by
    IEEE-754 on CPython, the JVM and DuckDB alike, so a SQL oracle
    replaying ``sqrt(w)`` on the same literals agrees bit-for-bit.
    Other temperatures go through ``pow`` (1-ulp across platforms) —
    production configs, not oracle configs.  Zero weights stay zero
    (excluded domains stay excluded at every temperature)."""
    import math
    t = float(temperature)
    if not (math.isfinite(t) and t > 0):
        raise ValueError("temperature must be a finite number > 0")
    _check_mixture_weights(weights)
    inv = 1.0 / t
    return {d: (math.sqrt(v) if inv == 0.5 else v ** inv)
            for d, v in weights.items()}


def domain_mixture_temperature_weights(
        df: DataFrame, domain_col: str, id_col: str, tokens_col: str,
        weights: dict[str, float], temperature: float, seed: int = 42,
        id_hash=None) -> DataFrame:
    """``domain_mixture`` with the explicit priors temperature-scaled
    first (see temperature_scaled_weights) — the third mixture API's
    weights-table form: natural shares (domain_mixture_temperature),
    explicit shares (domain_mixture), and temperature-flattened
    explicit shares all ride the same one-agg-pass + broadcast-rates
    plan."""
    return domain_mixture(
        df, domain_col, id_col, tokens_col,
        temperature_scaled_weights(weights, temperature),
        seed=seed, id_hash=id_hash)


def _check_mixture_weights(weights: dict) -> None:
    """Weights must be finite and >= 0 — NaN passes plain comparison
    gates (NaN < 0 is False) and then silently corrupts the rate
    algebra (NaN sorts greatest in Spark, least(1.0, NaN) = 1.0);
    inf makes the feasible total collapse to 0."""
    import math
    for k, v in weights.items():
        if not math.isfinite(v) or v < 0:
            raise ValueError(
                f"weight for {k!r} must be finite and >= 0, got {v!r}")


def pack_sequences(df: DataFrame, id_col: str, tokens_col: str,
                   budget: int, partitions: int | None = None,
                   strategy: str = "firstfit") -> DataFrame:
    """Greedy packing of items into fixed token budgets: returns
    (id, n_tokens, pack_id) where every pack's total stays <=
    ``budget`` (items alone exceeding the budget get a singleton
    pack).  Items are processed in (n_tokens DESC, id ASC) order.

    ``strategy``: 'firstfit' (default) scans all open packs for the
    first with room — the production choice, a few percent denser;
    'nextfit' keeps only the CURRENT pack open and starts a new one
    whenever the item doesn't fit.  Next-fit's single running
    (pack, free) state makes the assignment expressible as a
    sequential recurrence — with ``partitions=1`` it is reproducible
    in SQL window/recursive-CTE algebra, which is what gives the
    operator a value-level DuckDB oracle (llm36); first-fit's
    scan-all-open-packs step has no such closed form.

    Scale design: items are hash-repartitioned once, then packing runs
    INSIDE each partition with no cross-partition coordination — pack
    ids embed the partition id, so they are globally unique without a
    sequence bottleneck.  Packing quality loses at most a few percent
    vs a global pass; a global greedy pack would serialize the entire
    corpus through one node, which is the non-scalable formulation
    this operator exists to avoid."""
    if strategy not in ("firstfit", "nextfit"):
        raise ValueError(f"unknown strategy {strategy!r}")
    spark = df.sparkSession
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    items = (df.select(F.col(id_col).alias("id"),
                       F.col(tokens_col).cast("long").alias("n_tokens"))
               .repartition(partitions, F.col("id")))
    nextfit = strategy == "nextfit"

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values(["n_tokens", "id"],
                              ascending=[False, True],
                              kind="mergesort").reset_index(drop=True)
        assign = np.empty(len(pdf), dtype="int64")
        if nextfit:
            cur, free = -1, -1      # one open pack: (index, free space)
            for i, nt in enumerate(pdf["n_tokens"]):
                if cur < 0 or int(nt) > free:
                    cur += 1
                    free = max(int(budget) - int(nt), 0)
                else:
                    free -= int(nt)
                assign[i] = cur
        else:
            remaining: list[int] = []   # free space per open pack
            for i, nt in enumerate(pdf["n_tokens"]):
                placed = False
                for p, free in enumerate(remaining):
                    if nt <= free:
                        remaining[p] = free - int(nt)
                        assign[i] = p
                        placed = True
                        break
                if not placed:
                    remaining.append(max(int(budget) - int(nt), 0))
                    assign[i] = len(remaining) - 1
        pdf["pack_local"] = assign
        yield pdf

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id {id_type}, n_tokens long, pack_local long"
    packed = items.mapInPandas(pack, schema=out_schema)
    pid = F.spark_partition_id().cast("long")
    return (packed.withColumn("pack_id",
                              pid * F.lit(1_000_000_000) +
                              F.col("pack_local"))
                  .select("id", "n_tokens", "pack_id"))


def domain_mixture_epochs(df: DataFrame, domain_col: str, id_col: str,
                          tokens_col: str, weights: dict[str, float],
                          max_epochs: int = 1, seed: int = 42,
                          id_hash=None) -> DataFrame:
    """Mixture rebalancing WITH upsampling (the multi-epoch half of the
    Pile / DoReMi recipe that ``domain_mixture`` leaves out): choose a
    per-domain repeat factor ``f_d = w_d * T / tokens_d`` so the
    assembled corpus's expected token shares match ``weights``, where
    ``T = min_d (max_epochs * tokens_d / w_d)`` is the largest mixture
    total that repeats no domain more than ``max_epochs`` times.  A
    document contributes ``floor(f_d)`` full copies plus one extra copy
    iff its id-hash bucket falls under the fractional part — so a
    domain with f_d = 2.3 emits every doc twice and a deterministic 30%
    of docs a third time.  Returns (id, domain, n_tokens, epoch) with
    epoch = 1..copies; ``max_epochs=1`` degenerates to exactly
    ``domain_mixture``'s downsample-only selection (f_d <= 1 by
    construction of T, and epoch is constant 1).

    Scale shape: identical to domain_mixture — one partial-aggregated
    groupBy for per-domain totals (|domains| rows), a scalar agg for T,
    repeat factors broadcast-joined back; the replication itself is
    ``explode(sequence(1, copies))``, a zero-shuffle projection (rows
    multiply inside their partitions — no exchange grows with the
    epoch count).  Selection of fractional copies hashes document ids,
    so the assembled mixture is reproducible and stable under corpus
    growth.  Domains missing from ``weights`` are dropped; weights
    naming absent domains are ignored."""
    if max_epochs < 1:
        raise ValueError("max_epochs must be >= 1")
    for k, v in weights.items():
        if v < 0:
            raise ValueError(f"weight for {k!r} must be >= 0")
    if id_hash is None:
        id_hash = _xxhash_id
    wmap = F.create_map(*[F.lit(x) for kv in weights.items()
                          for x in (kv[0], float(kv[1]))])
    dom = (df.groupBy(F.col(domain_col).alias("domain"))
             .agg(F.sum(F.col(tokens_col).cast("long"))
                   .cast("double").alias("__tok"))
             .withColumn("__w", wmap[F.col("domain")])
             .filter(F.col("__w").isNotNull() & (F.col("__w") > 0)))
    # double-op order (max_epochs * tok / w, then w * T / tok) is
    # mirrored verbatim in the DuckDB oracle so floor() boundaries
    # agree bit-for-bit across engines
    total = dom.agg(F.min(F.lit(float(max_epochs)) * F.col("__tok") /
                          F.col("__w")).alias("__total"))
    rates = (dom.crossJoin(F.broadcast(total))
                .withColumn("__f", F.col("__w") * F.col("__total") /
                                   F.col("__tok"))
                .select("domain",
                        F.floor("__f").cast("long").alias("__full"),
                        F.round((F.col("__f") - F.floor("__f")) *
                                _BUCKETS).cast("long").alias("__thresh")))
    bucket = F.pmod(id_hash(F.col("id"), seed), F.lit(_BUCKETS))
    copies = (F.col("__full") +
              F.when(bucket < F.col("__thresh"), F.lit(1))
               .otherwise(F.lit(0))).cast("int")
    return (df.select(F.col(id_col).alias("id"),
                      F.col(domain_col).alias("domain"),
                      F.col(tokens_col).cast("long").alias("n_tokens"))
              .join(F.broadcast(rates), "domain")
              .withColumn("__n", copies)
              .filter(F.col("__n") > 0)
              .withColumn("epoch",
                          F.explode(F.sequence(F.lit(1), F.col("__n"))))
              .select("id", "domain", "n_tokens", "epoch"))


def shard_corpus(df: DataFrame, id_col: str, tokens_col: str,
                 shard_tokens: int, seed: int = 42,
                 id_hash=None) -> DataFrame:
    """Deterministic output sharding: assign every document a
    ``shard_id`` so that, reading documents in the seeded hash-
    permutation order, each shard holds a contiguous run of documents
    whose starting token offset lies in [k*shard_tokens,
    (k+1)*shard_tokens) — i.e. fixed-token-size training shards (a
    shard exceeds the target only by its final straddling document).
    Returns (id, n_tokens, cum_tokens, shard_id); writers then emit
    real files with ``out.write.partitionBy("shard_id")`` (tested) or
    repartition on it.

    This is the write-side companion of token_budget_sample and reuses
    its distributed running sum: rows range-bucket on the hash key,
    per-bucket token subtotals (<= parallelism+2 longs) come back to
    the driver once and broadcast as prefix offsets, and the cumsum
    window runs per-bucket in parallel — no single-partition window,
    no global sequencer.  shard_id derives from the starting offset by
    exact BIGINT division (no doubles — still exact past 2^53 tokens).
    The permutation is the id-hash order, so shard contents are
    reproducible across runs, cluster sizes, and input partitionings."""
    if shard_tokens <= 0:
        raise ValueError("shard_tokens must be positive")
    if id_hash is None:
        id_hash = _xxhash_id
    from ..streaming.windows import (_column_type, _lazy_prefix_offsets,
                                     _range_bucket)
    from pyspark.sql.window import Window as W

    spark = df.sparkSession
    buckets = spark.sparkContext.defaultParallelism
    keyed = df.select(F.col(id_col).alias("id"),
                      F.col(tokens_col).cast("long").alias("n_tokens"),
                      id_hash(F.col(id_col), seed).alias("__key"))
    # static hash codomain + lazy prefix offsets — same r14 shape as
    # token_budget_filter: no min/max pass, no subtotal collect; one
    # action, the corpus touched by exactly the (partial-aggregated)
    # subtotal branch and the main branch
    d, bucket = _range_bucket(
        keyed, F.col("__key"), buckets, _column_type(keyed, "__key"),
        known_range=getattr(id_hash, "hash_range", None))
    d = d.select(keyed["*"], bucket.alias("__bkt"))
    off_df = _lazy_prefix_offsets(d, "__bkt", F.sum("n_tokens"), "__off")
    w = (W.partitionBy("__bkt").orderBy("__key", "id")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (d.join(F.broadcast(off_df), "__bkt")
             .withColumn("cum_tokens",
                         (F.col("__off") +
                          F.sum("n_tokens").over(w)).cast("long"))
             .withColumn("shard_id",
                         F.expr(f"(cum_tokens - n_tokens) div "
                                f"{int(shard_tokens)}"))
             .select("id", "n_tokens", "cum_tokens", "shard_id"))
