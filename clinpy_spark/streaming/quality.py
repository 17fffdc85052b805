"""Streaming twin of the Deequ-style constraint suite
(operators/quality.py): per-micro-batch check partials folded by
ADDITION into a persisted table, so data-quality metrics are
continuously maintained at O(batch + checks) per trigger — the shape a
100 TB/day ingest needs (re-scanning history per trigger is not an
option).

Only checks whose sufficient statistics are additive stream:
completeness, range, pattern (each reduces to two counters per batch).
Uniqueness and fk need cross-batch distinct/membership state — run
those in batch over the sink table, or via the KMV sketch
(operators/sketch.py) when an estimate suffices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from clinpy_spark.streaming.fold import stream_fold, summed

_STREAMABLE = {"completeness", "range", "pattern"}


def check_partials(df: DataFrame, checks: list[dict]) -> DataFrame:
    """One fused aggregation -> (check_name, num, den) additive
    partials: completeness/pattern = (hits, rows); range = (violations,
    rows)."""
    bad = [c for c in checks if c["check"] not in _STREAMABLE]
    if bad:
        raise ValueError(f"not streamable (need cross-batch state): "
                         f"{[c['name'] for c in bad]}")
    aggs = []
    for spec in checks:
        kind, col = spec["check"], spec["col"]
        if kind == "completeness":
            num = F.count(col)
        elif kind == "pattern":
            num = F.sum(F.when(F.col(col).rlike(spec["regex"]), 1).otherwise(0))
        else:  # range
            lo, hi = spec["lo"], spec["hi"]
            num = F.sum(F.when(F.col(col).isNotNull()
                               & ((F.col(col) < lo) | (F.col(col) > hi)), 1).otherwise(0))
        aggs.append(F.coalesce(num, F.lit(0)).cast("long").alias(f"__n_{spec['name']}"))
        aggs.append(F.count(F.lit(1)).alias(f"__d_{spec['name']}"))
    one = df.agg(*aggs)
    rows = F.array(*[
        F.struct(
            F.lit(spec["name"]).alias("check_name"),
            F.col(f"__n_{spec['name']}").alias("num"),
            F.col(f"__d_{spec['name']}").alias("den"),
        )
        for spec in checks
    ])
    return one.select(F.explode(rows).alias("__c")).select("__c.*")


def finalize_checks(partials: DataFrame, checks: list[dict]) -> DataFrame:
    """Summed partials -> the batch suite's (check_name, metric,
    passed) contract."""
    summed = partials.groupBy("check_name").agg(
        F.sum("num").alias("num"), F.sum("den").alias("den"))
    spec_by = {c["name"]: c for c in checks}
    frac = F.col("num").cast("double") / F.col("den")
    out = []
    for name, spec in spec_by.items():
        base = summed.filter(F.col("check_name") == name)
        if spec["check"] == "range":
            out.append(base.select(
                "check_name", F.col("num").cast("double").alias("metric"),
                (F.col("num") == 0).alias("passed")))
        else:
            floor = float(spec.get("min_frac", 1.0))
            out.append(base.select(
                "check_name", F.round(frac, 6).alias("metric"),
                (frac >= floor).alias("passed")))
    res = out[0]
    for p in out[1:]:
        res = res.unionByName(p)
    return res


def stream_check_suite(
    stream: DataFrame,
    catalog,
    name: str,
    checks: list[dict],
    *,
    checkpoint: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Fold each micro-batch's check partials into the persisted
    ``name`` table (addition-merge keyed by check_name, effectively-
    once via the (run_id, batch_id) stamp). Read the current verdicts
    with ``finalize_checks(catalog.table(name), checks)``."""
    return stream_fold(
        stream, catalog, name,
        lambda batch: check_partials(batch, checks),
        summed(["check_name"], ["num", "den"]), "checks",
        checkpoint=checkpoint, available_now=available_now)


def score_label_counts_partial(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """(__s, np, nn) additive partials for one micro-batch — the AUC
    sufficient statistic (per-distinct-score positive/negative
    counts). Quantize/bucket continuous scores upstream when the score
    domain is unbounded (the ks-fold compromise). Stream it with
    ``stream_fold(stream, catalog, name, lambda b:
    score_label_counts_partial(b, s, y), summed(["__s"], ["np", "nn"]),
    "auc")``."""
    lab = F.col(label_col).cast("int")
    return (
        df.filter(F.col(score_col).isNotNull() & lab.isNotNull())
        .select(F.col(score_col).alias("__s"), lab.alias("__y"))
        .groupBy("__s")
        .agg(
            F.sum("__y").alias("np"),
            F.sum(1 - F.col("__y")).alias("nn"),
        )
    )


def finalize_calibration(counts: DataFrame, n_bins: int = 10) -> DataFrame:
    """Calibration/reliability table from the SAME maintained
    (__s, np, nn) fold state :func:`finalize_auc` reads (r11 verdict
    #7: zero new state) — identical to the batch ``reliability_table``
    over the same scored rows (twin test): (bin, n, mean_score,
    frac_pos) with equal-width bins over the observed [min, max].

    The per-distinct-score counts are sufficient: n = sum(np + nn),
    mean_score = sum(s * (np + nn)) / n, frac_pos = sum(np) / n per
    bin — one 1-row min/max broadcast back, one binned groupBy over
    the bounded state table (never the scored corpus)."""
    base = counts.select("__s", "np", "nn")
    rng = base.agg(F.min("__s").alias("__lo"), F.max("__s").alias("__hi"))
    j = base.crossJoin(F.broadcast(rng))
    width = F.col("__hi") - F.col("__lo")
    bin_ = F.when(width > 0, F.least(
        F.floor((F.col("__s") - F.col("__lo")) / width * n_bins),
        F.lit(n_bins - 1),
    )).otherwise(F.lit(0)).cast("int")
    cnt = F.col("np") + F.col("nn")
    return (
        j.withColumn("bin", bin_)
        .groupBy("bin")
        .agg(
            F.sum(cnt).alias("n"),
            F.round(F.sum(F.col("__s") * cnt) / F.sum(cnt), 6)
            .alias("mean_score"),
            F.round(F.sum("np") / F.sum(cnt).cast("double"), 6)
            .alias("frac_pos"),
        )
    )


def finalize_auc(counts: DataFrame) -> DataFrame:
    """Exact ROC-AUC over the maintained (__s, np, nn) table —
    identical to the batch ``roc_auc`` over the same scored rows (twin
    test)."""
    from clinpy_spark.operators.classify import auc_from_score_counts

    return auc_from_score_counts(counts.select("__s", "np", "nn"))
