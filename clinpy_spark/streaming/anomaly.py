"""Online per-key anomaly detection with bounded state.

``streaming_zscore`` keeps three numbers per key — (n, sum, sumsq) —
and flags each event whose value deviates more than ``z`` sample
standard deviations from the mean of ALL STRICTLY EARLIER events of
that key (cross-batch; earlier = event-time order, micro-batches fold
serially). The batch twin is an expanding window: mean/stddev_samp
over ``rowsBetween(unboundedPreceding, -1)`` — the stream and a batch
replay produce identical flags (twin-tested).

Implementation note: the natural home for this operator is Spark 4's
transformWithState API (named ValueState with built-in TTL). That API
routes per-key state through a protobuf-based local state server, and
this container's ``google.protobuf`` install is broken
(``cannot import name 'descriptor'`` from the driver worker), so the
operator runs on applyInPandasWithState — identical semantics, TTL via
processing-time timeout instead of the state's ttlDurationMs. The
transformWithState port is mechanical when the dependency works:
``handle.getValueState("moments", "n long, s double, ss double",
ttlDurationMs=...)`` replaces the GroupState tuple.

Scale shape: state is 3 scalars per key regardless of history length;
the TTL GC's idle keys, so an unbounded key space cannot grow the
state store. Each micro-batch costs one shuffle on the key.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def batch_zscore_flags(
    df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    z: float = 3.0,
    min_prior: int = 5,
) -> DataFrame:
    """Batch twin: flag rows deviating > z sample stddevs from the mean
    of the key's strictly earlier rows (expanding window). Emits only
    the anomalies: (key, ts, value, zscore, n_prior); a zero-variance
    history flags ANY deviation (its zscore reports NULL)."""
    w_prev = (Window.partitionBy(key_col).orderBy(ts_col)
              .rowsBetween(Window.unboundedPreceding, -1))
    n_prior = F.count(value_col).over(w_prev)
    mean = F.avg(value_col).over(w_prev)
    sd = F.stddev_samp(value_col).over(w_prev)
    # window expressions can't sit in a WHERE clause: materialize the
    # history stats as columns first, then filter on plain columns
    dev = F.abs(F.col(value_col) - F.col("__m"))
    is_anom = (F.col("__n") >= min_prior) & (
        ((F.col("__sd") > 0) & (dev > z * F.col("__sd")))
        | ((F.col("__sd") == 0) & (dev > 0))
    )
    return (
        df.withColumn("__n", n_prior)
        .withColumn("__m", mean)
        .withColumn("__sd", sd)
        .filter(is_anom)
        .select(
            key_col, ts_col, value_col,
            F.when(F.col("__sd") > 0,
                   F.round((F.col(value_col) - F.col("__m")) / F.col("__sd"), 6))
            .alias("zscore"),
            F.col("__n").alias("n_prior"),
        )
    )


def streaming_zscore(
    stream: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    z: float = 3.0,
    min_prior: int = 5,
    state_ttl_ms: int = 86_400_000,
) -> DataFrame:
    """Streaming twin of :func:`batch_zscore_flags`. Within a
    micro-batch the group's Arrow chunks are concatenated and sorted
    ONCE by event time (the r9/r10-era chunk-ordering lesson applies to
    every order-dependent stateful operator), then walked sequentially
    so earlier same-batch events count toward later ones' history
    exactly like the batch expanding window."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_type = stream.schema[key_col].dataType.simpleString()
    out_schema = (f"{key_col} {key_type}, {ts_col} timestamp, "
                  f"{value_col} double, zscore double, n_prior long")
    state_schema = "n long, s double, ss double"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n, s, ss = state.get if state.exists else (0, 0.0, 0.0)
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        pdf = (frames[0] if len(frames) == 1
               else pd.concat(frames)).sort_values(ts_col)
        out_ts, out_v, out_z, out_n = [], [], [], []
        for ts, v in zip(pdf[ts_col], pdf[value_col]):
            v = float(v)
            if n >= min_prior:
                mean = s / n
                var = (ss - s * s / n) / (n - 1)
                sd = math.sqrt(var) if var > 0 else 0.0
                dev = abs(v - mean)
                if (sd > 0 and dev > z * sd) or (sd == 0 and dev > 0):
                    out_ts.append(ts)
                    out_v.append(v)
                    out_z.append(
                        round((v - mean) / sd, 6) if sd > 0 else None)
                    out_n.append(n)
            n, s, ss = n + 1, s + v, ss + v * v
        state.update((int(n), float(s), float(ss)))
        state.setTimeoutDuration(state_ttl_ms)
        if out_ts:
            yield pd.DataFrame({
                key_col: [key[0]] * len(out_ts),
                ts_col: out_ts,
                value_col: out_v,
                "zscore": out_z,
                "n_prior": out_n,
            })

    return (
        stream.groupBy(key_col)
        .applyInPandasWithState(
            update, out_schema, state_schema, "update",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def period_counts_partial(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """(__p, n) additive partials for one micro-batch: events per day
    (day number = days since 1970-01-01, engine-neutral). The CUSUM
    sufficient statistic — per-period counts add across batches."""
    return (
        df.select(
            F.datediff(
                F.to_date(F.col(ts_col)),
                F.lit("1970-01-01").cast("date")).alias("__p"))
        .groupBy("__p")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def stream_period_counts(
    stream: DataFrame,
    catalog,
    name: str,
    ts_col: str = "ts",
    *,
    checkpoint: str | None = None,
    available_now: bool = True,
):
    """Fold each micro-batch's per-day counts into the persisted
    ``name`` table (addition-merge keyed by __p) — the maintained
    series :func:`finalize_cusum` reads. Table size = |days observed|,
    regardless of stream volume."""
    from clinpy_spark.streaming.fold import stream_fold, summed

    return stream_fold(
        stream, catalog, name,
        lambda batch: period_counts_partial(batch, ts_col),
        summed(["__p"], ["n"]), "cusum",
        checkpoint=checkpoint, available_now=available_now)


def finalize_cusum(counts: DataFrame) -> DataFrame:
    """Page's CUSUM mean-shift readout over the maintained (__p, n)
    series — identical to the batch ``cusum_changepoint`` over the
    same per-day counts (twin contract): 1 row (n_periods, mean_x,
    max_cusum_pos, t_pos, max_cusum_neg, t_neg). CUSUM is a whole-
    series statistic (not additive), but its INPUT is, so the fold
    maintains the bounded series and the read recomputes in
    O(|days|)."""
    from clinpy_spark.operators.windows import cusum_changepoint

    return cusum_changepoint(counts, "__p", "n")


def finalize_acf(counts: DataFrame, max_lag: int = 7) -> DataFrame:
    """Autocorrelation readout over the SAME maintained (__p, n)
    per-day series the CUSUM fold keeps — per-period counts are the
    sufficient statistic for both monitors, so one streaming fold
    serves level-shift detection (CUSUM) and memory/periodicity (ACF)
    simultaneously: rows (lag, n_pairs, r), identical to the batch
    ``acf`` over the same per-day counts (twin contract). ACF is a
    whole-series statistic, but its input is additive; the read
    recomputes in O(|days| * max_lag)."""
    from clinpy_spark.operators.windows import acf

    return acf(counts, "__p", "n", max_lag=max_lag)
