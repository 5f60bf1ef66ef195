"""Shared helpers for the LLM-pipeline operators."""

from __future__ import annotations

from pyspark.sql import DataFrame

# per-tag cache-of-one: operators whose RESULT must stay persisted past
# their own return (iterative algorithms, reused signatures) register it
# here so a long-lived session running many operators doesn't accumulate
# storage memory — each new call evicts the same operator's previous
# cache, and release_caches() frees everything.
_OP_CACHES: dict[str, DataFrame] = {}


def cache_of_one(tag: str, df: DataFrame) -> DataFrame:
    """Persist ``df``, evicting whatever the same ``tag`` persisted
    before.  Returns the persisted frame."""
    prev = _OP_CACHES.pop(tag, None)
    if prev is not None:
        prev.unpersist()
    df = df.persist()
    _OP_CACHES[tag] = df
    return df


def release_caches(tag: str | None = None) -> None:
    """Unpersist one tag's cache (or all of them).  Safe any time —
    consumers that already materialized their results lose nothing."""
    tags = [tag] if tag is not None else list(_OP_CACHES)
    for t in tags:
        prev = _OP_CACHES.pop(t, None)
        if prev is not None:
            prev.unpersist()


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Repartition a coarsely-partitioned input up to cluster parallelism
    before a compute-heavy projection (minhash permutations, simhash
    folds, per-row hyperplane dot products).

    Rule: round-robin to ``defaultParallelism`` when the optimizer's
    size estimate spans fewer splits than that
    (``ceil(sizeInBytes / filesMaxPartitionBytes) < defaultParallelism``),
    otherwise return ``df`` unchanged.  A scan of a few small files
    yields fewer tasks than the cluster has cores, and per-row cost here
    dwarfs one exchange of the raw input.  At scale every corpus-wide
    input spans thousands of splits, so the spread is a no-op; an
    unknown size (Long.MaxValue, e.g. an RDD-backed frame) counts as
    large.  The estimate reads logical statistics only — no physical
    planning and no RDD conversion.
    """
    if df.isStreaming:
        # a stream's partitioning is its source's business
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    size = int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())
    # exact bytes from the session state (handles '128m'-style settings)
    split = int(spark._jsparkSession.sessionState().conf()
                .filesMaxPartitionBytes())
    if -(-size // max(split, 1)) < target:
        return df.repartition(target)
    return df
