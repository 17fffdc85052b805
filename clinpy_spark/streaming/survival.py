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

The time-varying Cox and recurrent-event MCF twins share one fold
state: the counting-process flow table of
:func:`clinpy_spark.operators.survival.episode_flows`, whose risk sets
the readers rebuild with the same strict-prefix flow grid the batch
``cox_newton_tv`` / ``mcf_curve`` use
(``operators/survival._flow_grid``).

Replay safety: foreachBatch is at-least-once, so each wrapper runs
through :func:`clinpy_spark.streaming.fold.stream_fold`, whose merge
stamps the state table with its checkpoint lineage's last folded batch
id and skips replayed batches — the fold is effectively-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from clinpy_spark.operators.survival import (
    _per_time, cox_newton_multi_from_leavers, cox_tv_from_flows,
    episode_flows, finegray_leavers, finegray_newton_from_leavers,
    finegray_score_from_leavers, km_from_per_time, mcf_from_flows)
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
    return stream_fold(
        stream, catalog, name,
        lambda batch: finegray_leavers(batch, time_col, status_col, group_col),
        summed(["__x", "__t"], ["__r", "__d1", "__d2", "__c"]), "fg",
        checkpoint=checkpoint, available_now=available_now)


def finalize_finegray_score(partials: DataFrame) -> DataFrame:
    """Fine-Gray score test over the maintained leaver table —
    identical to the batch ``finegray_score`` over the same subjects
    (twin test)."""
    return finegray_score_from_leavers(partials)


def finalize_finegray_beta(
    partials: DataFrame, iterations: int = 3,
) -> DataFrame:
    """Fine-Gray subdistribution-hazard MLE over the maintained leaver
    table — identical to the batch ``finegray_newton`` (twin test)."""
    return finegray_newton_from_leavers(partials, iterations=iterations)


def cox_tv_partials(
    batch: DataFrame,
    start_col: str,
    stop_col: str,
    event_col: str,
    x_col: str,
) -> DataFrame:
    """One micro-batch of counting-process EPISODES -> additive
    per-time partials (__t, d, d1, fn, fn1, eps): the shared flow
    table of :func:`clinpy_spark.operators.survival.episode_flows`
    (events at stop, the net at-risk flow, the episode count). All
    integer counters, so micro-batches fold by plain addition."""
    return episode_flows(batch, start_col, stop_col, event_col, x_col)


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
    (twin test): both read the shared flow grid (risk sets as strict
    prefix sums of the net flows), then the shared binary-covariate
    fit and emission
    (:func:`clinpy_spark.operators.survival.cox_tv_from_flows`)."""
    return cox_tv_from_flows(partials, iterations)


def finalize_mcf(partials: DataFrame) -> DataFrame:
    """Recurrent-event mean cumulative function over the SAME
    maintained per-time partial table as :func:`finalize_cox_tv` (one
    fold state, two readers — the stream_cox_tv_partials fold already
    carries everything the MCF needs): the shared flow grid, then the
    shared MCF emission
    (:func:`clinpy_spark.operators.survival.mcf_from_flows`).
    Identical to the batch ``mcf_curve`` over the same episodes (twin
    test)."""
    return mcf_from_flows(partials)
