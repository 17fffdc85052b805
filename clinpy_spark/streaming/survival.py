"""Streaming twin of the survival operators (operators/survival.py):
a Kaplan-Meier curve continuously maintained as subjects' outcomes
stream in.

The KM estimator's sufficient statistic is the per-(group, time) table
of (events, censorings) — ADDITIVE counters, so each micro-batch folds
its own tiny aggregate into a persisted per-time grid at O(batch +
grid) per trigger (the same fold-partials shape as
streaming/quality.py's constraint suite and streaming/drift.py's PSI
monitor). The curve itself is recomputed from the folded grid on read
via :func:`clinpy_spark.operators.survival.km_from_per_time` — windows
over the bounded time grid, never over history.

Replay safety: foreachBatch is at-least-once, so each wrapper runs
through :func:`clinpy_spark.streaming.fold.stream_fold`, whose merge
stamps the state table with its checkpoint lineage's last folded batch
id and skips replayed batches — the fold is effectively-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from clinpy_spark.operators.survival import _per_time, km_from_per_time
from clinpy_spark.streaming.fold import stream_fold, summed


def km_partials(
    batch: DataFrame,
    time_col: str,
    event_col: str,
    group_col: str,
) -> DataFrame:
    """One micro-batch -> additive per-(group, time) partials
    (__g, __t, d, c)."""
    return _per_time(batch, time_col, event_col, group_col)


def stream_km_partials(
    stream: DataFrame,
    catalog,
    name: str,
    time_col: str,
    event_col: str,
    group_col: str,
    *,
    checkpoint: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Fold each micro-batch's KM partials into the persisted ``name``
    table (addition-merge keyed by (__g, __t)). Read the live curve
    with ``km_read(catalog.table(name), time_col, group_col)``."""
    return stream_fold(
        stream, catalog, name,
        lambda batch: km_partials(batch, time_col, event_col, group_col),
        summed(["__g", "__t"], ["d", "c"]), "km",
        checkpoint=checkpoint, available_now=available_now)


def cox_leaver_partials(
    batch: DataFrame,
    time_col: str,
    event_col: str,
    x_cols: list[str],
) -> DataFrame:
    """One micro-batch -> additive per-(covariate-cell, time) leaver
    partials (__x1..__xd, __t, __r, __d) — the d-covariate Cox MLE's
    sufficient statistic (operators/survival.py
    cox_newton_multi_from_leavers)."""
    xs = [f"__x{i}" for i in range(1, len(x_cols) + 1)]
    keep = (F.col(time_col).isNotNull()
            & F.col(event_col).cast("int").isNotNull())
    for c in x_cols:
        keep = keep & F.col(c).isNotNull()
    return (
        batch.filter(keep)
        .select(
            F.col(time_col).alias("__t"),
            F.col(event_col).cast("int").alias("__e"),
            *[F.col(c).cast("double").alias(x)
              for c, x in zip(x_cols, xs)],
        )
        .groupBy(*xs, "__t")
        .agg(F.count(F.lit(1)).alias("__r"), F.sum("__e").alias("__d"))
    )


def stream_cox_partials(
    stream: DataFrame,
    catalog,
    name: str,
    time_col: str,
    event_col: str,
    x_cols: list[str],
    *,
    checkpoint: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Fold each micro-batch's Cox leaver partials into the persisted
    ``name`` table (addition-merge keyed by (cell, time), idempotent
    lineage-scoped stamp). Read the live adjusted hazard ratios with
    :func:`finalize_cox_multi` — continuously-monitored multi-covariate
    Cox without rescanning subject history."""
    xs = [f"__x{i}" for i in range(1, len(x_cols) + 1)]
    return stream_fold(
        stream, catalog, name,
        lambda batch: cox_leaver_partials(batch, time_col, event_col, x_cols),
        summed([*xs, "__t"], ["__r", "__d"]), "cox",
        checkpoint=checkpoint, available_now=available_now)


def finalize_cox_multi(
    partials: DataFrame, d: int, iterations: int = 4
) -> DataFrame:
    """The current d-covariate Cox fit from the folded leaver grid —
    identical to the batch ``cox_newton_multi`` over everything folded
    so far (twin test); at-risk counts rebuild from the leaver totals
    on read."""
    from clinpy_spark.operators.survival import cox_newton_multi_from_leavers

    xs = [f"__x{i}" for i in range(1, d + 1)]
    return cox_newton_multi_from_leavers(
        partials.select(*xs, "__t", "__r", "__d"), d,
        iterations=iterations)


def km_read(
    partials: DataFrame,
    time_col: str,
    group_col: str,
) -> DataFrame:
    """The current KM curve from the folded per-time grid — identical
    to the batch ``km_curve`` over everything folded so far."""
    return km_from_per_time(partials, time_col, group_col)


def stream_finegray_partials(
    stream: DataFrame,
    catalog,
    name: str,
    time_col: str,
    status_col: str,
    group_col: str,
    *,
    checkpoint: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Fold each micro-batch's Fine-Gray leaver partials — per-(arm,
    time) counts of leavers / events of interest / competing events /
    censorings, all integer-additive — into the persisted ``name``
    table (addition-merge with the idempotent lineage-ledger stamp).
    Read the live competing-risks statistics with
    :func:`finalize_finegray_score` / :func:`finalize_finegray_beta`:
    the censoring KM and IPCW weights rebuild from the folded counters
    on read, never from subject history."""
    from clinpy_spark.operators.survival import finegray_leavers

    return stream_fold(
        stream, catalog, name,
        lambda batch: finegray_leavers(batch, time_col, status_col, group_col),
        summed(["__x", "__t"], ["__r", "__d1", "__d2", "__c"]), "fg",
        checkpoint=checkpoint, available_now=available_now)


def finalize_finegray_score(partials: DataFrame) -> DataFrame:
    """Fine-Gray score test over the maintained leaver table —
    identical to the batch ``finegray_score`` over the same subjects
    (twin test)."""
    from clinpy_spark.operators.survival import finegray_score_from_leavers

    return finegray_score_from_leavers(partials)


def finalize_finegray_beta(
    partials: DataFrame, iterations: int = 3,
) -> DataFrame:
    """Fine-Gray subdistribution-hazard MLE over the maintained leaver
    table — identical to the batch ``finegray_newton`` (twin test)."""
    from clinpy_spark.operators.survival import finegray_newton_from_leavers

    return finegray_newton_from_leavers(partials, iterations=iterations)


def cox_tv_partials(
    batch: DataFrame,
    start_col: str,
    stop_col: str,
    event_col: str,
    x_col: str,
) -> DataFrame:
    """One micro-batch of counting-process EPISODES -> additive
    per-time partials (__t, d, d1, fn, fn1, eps): events of the
    episode stopping at t, the NET at-risk flow at t (arrivals at
    start minus departures at stop — the sufficient statistic of
    ``operators/survival._binary_event_grid_tv``'s risk sets, which
    are its strict prefix sums), and the episode count (arrivals) for
    n_episodes. All integer counters, so micro-batches fold by plain
    addition."""
    ep = (
        batch.select(
            F.col(start_col).cast("double").alias("__a"),
            F.col(stop_col).cast("double").alias("__b"),
            F.col(event_col).cast("int").alias("__e"),
            F.col(x_col).cast("int").alias("__x"),
        )
        .filter(F.col("__b") > F.col("__a"))
    )
    zero = F.lit(0).cast("long")
    at_start = ep.groupBy(F.col("__a").alias("__t")).agg(
        F.sum(F.lit(0)).alias("d"), F.sum(F.lit(0)).alias("d1"),
        F.count(F.lit(1)).alias("fn"), F.sum("__x").alias("fn1"),
        F.count(F.lit(1)).alias("eps"))
    at_stop = ep.groupBy(F.col("__b").alias("__t")).agg(
        F.sum("__e").alias("d"),
        F.sum(F.col("__e") * F.col("__x")).alias("d1"),
        (-F.count(F.lit(1))).alias("fn"), (-F.sum("__x")).alias("fn1"),
        zero.alias("eps"))
    return (
        at_start.unionByName(at_stop)
        .groupBy("__t")
        .agg(*[F.sum(c).alias(c) for c in ("d", "d1", "fn", "fn1", "eps")])
    )


def stream_cox_tv_partials(
    stream: DataFrame,
    catalog,
    name: str,
    start_col: str,
    stop_col: str,
    event_col: str,
    x_col: str,
    *,
    checkpoint: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Fold each micro-batch's counting-process partials into the
    persisted ``name`` table (addition-merge keyed by __t with the
    idempotent lineage-ledger stamp). Read the live time-varying Cox
    fit with :func:`finalize_cox_tv` — continuously-monitored
    treatment-switch hazard ratio without rescanning episode
    history."""
    return stream_fold(
        stream, catalog, name,
        lambda batch: cox_tv_partials(
            batch, start_col, stop_col, event_col, x_col),
        summed(["__t"], ["d", "d1", "fn", "fn1", "eps"]), "coxtv",
        checkpoint=checkpoint, available_now=available_now)


def finalize_cox_tv(partials: DataFrame, iterations: int = 3) -> DataFrame:
    """Time-varying Cox MLE over the maintained per-time partial table
    — identical to the batch ``cox_newton_tv`` over the same episodes
    (twin test): risk sets are the strict prefix sums of the folded
    net flows, then the shared binary-covariate fit and emission
    (:func:`clinpy_spark.operators.survival._binary_cox_row`)."""
    from pyspark.sql.window import Window

    from clinpy_spark.operators.survival import _binary_cox_row

    w_prev = Window.orderBy("__t").rowsBetween(
        Window.unboundedPreceding, -1)
    grid = (
        partials.withColumn(
            "n", F.coalesce(F.sum("fn").over(w_prev), F.lit(0)))
        .withColumn(
            "n1", F.coalesce(F.sum("fn1").over(w_prev), F.lit(0)))
        .filter(F.col("d") > 0)
        .select("__t", "d", "d1", "n", "n1")
    )
    counts = partials.groupBy().agg(
        F.coalesce(F.sum("eps"), F.lit(0)).alias("n_episodes"))
    return _binary_cox_row(grid, iterations, counts)


def finalize_mcf(partials: DataFrame) -> DataFrame:
    """Recurrent-event mean cumulative function over the SAME
    maintained per-time partial table as :func:`finalize_cox_tv` (one
    fold state, two readers — the stream_cox_tv_partials fold already
    carries everything the MCF needs): risk sets as strict prefix sums
    of the folded net flows, then the cumulative d/n and d/n^2
    windows. Identical to the batch ``mcf_curve`` over the same
    episodes (twin test)."""
    from pyspark.sql.window import Window

    w_prev = Window.orderBy("__t").rowsBetween(
        Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("__t").rowsBetween(
        Window.unboundedPreceding, 0)
    grid = (
        partials.withColumn(
            "n", F.coalesce(F.sum("fn").over(w_prev), F.lit(0)))
        .filter(F.col("d") > 0)
    )
    frac = F.col("d").cast("double") / F.col("n")
    var_t = F.col("d").cast("double") / (F.col("n") * F.col("n"))
    out = (
        grid.withColumn("__mcf", F.sum(frac).over(w_cum))
        .withColumn("__var", F.sum(var_t).over(w_cum))
    )
    return out.select(
        F.col("__t").alias("t"),
        F.col("n").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_events"),
        F.round("__mcf", 6).alias("mcf"),
        F.round(F.sqrt("__var"), 6).alias("se"),
    )
