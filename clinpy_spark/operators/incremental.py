"""Incremental aggregate maintenance: keep a per-key statistics table
current under appends WITHOUT rescanning the accumulated corpus.

The 100 TB stance: a corpus-wide stats table (docs per language, token
counts per source, min/max timestamps per partition...) is consumed by
every downstream mixing/curation decision, but recomputing it from
scratch on each append rescans everything ever ingested. The classic
fix is to persist MERGEABLE partial aggregates — (count, sum, min,
max) per key — and fold each new batch in: aggregate the batch (small),
union with the state (|keys| rows, not |corpus| rows), re-aggregate,
swap. Derived means (avg) are finalized at read time from the partials,
never stored, so they stay exact under any append order.

Associativity is what makes this correct: count/sum/min/max all merge
by themselves (sum of counts, sum of sums, min of mins, max of maxes),
so state ∘ batch == full recompute — asserted by the tests across
multi-step append sequences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: state columns per tracked value column v: __cnt_v, __sum_v, __min_v, __max_v
_PARTS = ("cnt", "sum", "min", "max")


def _part(col: str, part: str) -> str:
    return f"__{part}_{col}"


def partial_aggregate(df: DataFrame, keys: list[str], value_cols: list[str]) -> DataFrame:
    """One batch -> per-key mergeable partials (+ __n row count)."""
    aggs = [F.count("*").alias("__n")]
    for c in value_cols:
        aggs += [
            F.count(c).alias(_part(c, "cnt")),
            F.sum(F.col(c).cast("double")).alias(_part(c, "sum")),
            F.min(c).alias(_part(c, "min")),
            F.max(c).alias(_part(c, "max")),
        ]
    return df.groupBy(*keys).agg(*aggs)


def merge_partials(state: DataFrame, batch: DataFrame, keys: list[str],
                   value_cols: list[str]) -> DataFrame:
    """Fold a batch's partials into the state: union (cheap — both are
    per-key summaries) + one re-aggregate with each part's own merge
    function. Works for first-batch bootstrap (empty state union)."""
    aggs = [F.sum("__n").alias("__n")]
    for c in value_cols:
        aggs += [
            F.sum(_part(c, "cnt")).alias(_part(c, "cnt")),
            F.sum(_part(c, "sum")).alias(_part(c, "sum")),
            F.min(_part(c, "min")).alias(_part(c, "min")),
            F.max(_part(c, "max")).alias(_part(c, "max")),
        ]
    return state.unionByName(batch).groupBy(*keys).agg(*aggs)


def finalize(state: DataFrame, value_cols: list[str]) -> DataFrame:
    """Reader view: per-key n plus count/mean/min/max per value column.
    Means divide at read time — exact for any append history."""
    out = [F.col("__n").alias("n")]
    for c in value_cols:
        out += [
            F.col(_part(c, "cnt")).alias(f"{c}_count"),
            (F.col(_part(c, "sum")) / F.col(_part(c, "cnt"))).alias(f"{c}_mean"),
            F.col(_part(c, "min")).alias(f"{c}_min"),
            F.col(_part(c, "max")).alias(f"{c}_max"),
        ]
    keys = [c for c in state.columns if not c.startswith("__")]
    return state.select(*keys, *out)


def refresh_stats(catalog, name: str, batch: DataFrame, keys: list[str],
                  value_cols: list[str], batch_id: int | None = None,
                  run_id: str | None = None) -> None:
    """Fold one appended batch into the persisted stats table ``name``.

    Reads |keys| state rows, aggregates only the batch, writes the
    merged state back via the staged atomic swap (the state is derived
    from itself — same crash-safety contract as point updates). Cost is
    O(|batch| + |keys|) per refresh, independent of corpus size.

    The fold is :func:`clinpy_spark.streaming.fold.stamped_merge` with
    :func:`merge_partials`. When called from a streaming foreachBatch
    (at-least-once), pass ``batch_id`` and the checkpoint's ``run_id``
    (:func:`clinpy_spark.streaming.fold.lineage_token`; ``None`` is the
    lineage ``""``): replays within the same lineage are skipped and a
    fresh-checkpoint restart folds from its batch 0. Without a
    ``batch_id`` (a plain batch refresh) nothing is skipped and a
    stream-maintained table keeps its stamps."""
    from clinpy_spark.streaming.fold import stamped_merge

    stamped_merge(
        catalog, name, partial_aggregate(batch, keys, value_cols),
        lambda state, part: merge_partials(state, part, keys, value_cols),
        batch_id, run_id)
