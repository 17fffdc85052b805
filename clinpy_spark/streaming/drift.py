"""Streaming twin of the drift monitors (operators/drift.py): per-bin
counts are ADDITIVE sufficient statistics, so PSI/chi-square maintain
continuously at O(batch) per trigger — the corpus-acceptance gate a
100 TB/day ingest runs while data is still arriving, instead of a
nightly full rescan.

The twin fixes what must be fixed for streaming to be exact: bin EDGES
come from the reference snapshot (batch-fit once, a ~10-double
constant), not from the stream — exactly how PSI is deployed (the
reference is the frozen training distribution, the stream is the live
candidate batch). With frozen edges, summed per-bin deltas equal the
batch psi_table bit-for-bit (twin test)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from clinpy_spark.streaming.fold import stream_fold, summed


def bin_counts_partial(df: DataFrame, col: str, edges: list[float]) -> DataFrame:
    """(bin, n) additive partials for one batch against FROZEN edges —
    bin = count of edges strictly below the value (ties to the lower
    bin, same rule as operators/drift.py bin_by_edges)."""
    bin_expr = F.lit(0)
    for e in edges:
        bin_expr = bin_expr + F.when(F.col(col) > F.lit(float(e)), 1).otherwise(0)
    return (
        df.select(bin_expr.alias("bin"))
        .groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
    )


def stream_psi_counts(
    stream: DataFrame,
    catalog,
    name: str,
    col: str,
    edges: list[float],
    *,
    checkpoint: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Fold each micro-batch's per-bin counts into the persisted
    ``name`` table (addition-merge keyed by bin). The maintained table
    is at most ``len(edges)+1`` rows regardless of stream volume."""
    return stream_fold(
        stream, catalog, name,
        lambda batch: bin_counts_partial(batch, col, edges),
        summed(["bin"], ["n"]), "psi",
        checkpoint=checkpoint, available_now=available_now)


def finalize_psi(
    ref_counts: DataFrame,
    cur_counts: DataFrame,
    n_bins: int,
) -> DataFrame:
    """Two maintained (bin, n) tables -> the batch ``psi_table``
    contract: (bin, ref_n, cur_n, ref_frac, cur_frac, psi_contrib),
    same +0.5 Laplace smoothing and round-6 convention."""
    spine = ref_counts.sparkSession.range(n_bins).select(
        F.col("id").cast("int").alias("bin"))
    joined = (
        spine.join(F.broadcast(ref_counts.select("bin", F.col("n").alias("ref_n"))),
                   "bin", "left")
        .join(F.broadcast(cur_counts.select("bin", F.col("n").alias("cur_n"))),
              "bin", "left")
        .na.fill({"ref_n": 0, "cur_n": 0})
    )
    tot = joined.agg(F.sum("ref_n").alias("__tr"), F.sum("cur_n").alias("__tc"))
    out = joined.crossJoin(F.broadcast(tot))
    rf = (F.col("ref_n") + 0.5) / (F.col("__tr") + 0.5 * n_bins)
    cf = (F.col("cur_n") + 0.5) / (F.col("__tc") + 0.5 * n_bins)
    return out.select(
        "bin", "ref_n", "cur_n",
        F.round(rf, 6).alias("ref_frac"),
        F.round(cf, 6).alias("cur_frac"),
        F.round((cf - rf) * F.log(cf / rf), 6).alias("psi_contrib"),
    ).orderBy("bin")


def value_counts_partial(
    df: DataFrame, col: str, quantize: int | None = None
) -> DataFrame:
    """(__v, n) additive partials for one batch — the KS sufficient
    statistic. ``quantize`` rounds first (REQUIRED for unbounded-domain
    metrics: the maintained table is |distinct values| rows, same
    compromise as the batch ks_two_sample)."""
    val = F.round(F.col(col), quantize) if quantize is not None else F.col(col)
    return df.select(val.alias("__v")).groupBy("__v").agg(
        F.count(F.lit(1)).alias("n"))


def stream_ks_counts(
    stream: DataFrame,
    catalog,
    name: str,
    col: str,
    quantize: int | None = None,
    *,
    checkpoint: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Fold each micro-batch's per-value counts into the persisted
    ``name`` table (addition-merge keyed by __v). Read the live KS vs a
    reference snapshot with :func:`finalize_ks`."""
    return stream_fold(
        stream, catalog, name,
        lambda batch: value_counts_partial(batch, col, quantize),
        summed(["__v"], ["n"]), "ks",
        checkpoint=checkpoint, available_now=available_now)


def finalize_trimmed_means(
    counts: DataFrame, lo: float = 0.1, hi: float = 0.9
) -> DataFrame:
    """Robust location readout from the SAME maintained (__v, n) fold
    state :func:`finalize_ks` reads (r11 verdict #7: zero new state):
    1 row (n, trimmed_mean, winsorized_mean, plain_mean) — identical
    to the batch trimmed/winsorized means over the same values (twin
    test). The per-distinct-value counts are sufficient: the exact
    interpolated percentile bounds come from the frequency-weighted
    ``percentile(v, p, n)``, and each conditional mean is a weighted
    sum over the bounded state table — never a rescan of history."""
    qs = counts.agg(
        F.expr(f"percentile(__v, {lo}, n)").alias("__ql"),
        F.expr(f"percentile(__v, {hi}, n)").alias("__qh"),
    )
    j = counts.crossJoin(F.broadcast(qs))
    v, n = F.col("__v"), F.col("n")
    in_band = (v >= F.col("__ql")) & (v <= F.col("__qh"))
    wins = (F.when(v < F.col("__ql"), F.col("__ql"))
            .when(v > F.col("__qh"), F.col("__qh")).otherwise(v))
    return j.agg(
        F.sum(n).alias("n"),
        F.round(F.sum(F.when(in_band, v * n)) / F.sum(F.when(in_band, n)), 6)
        .alias("trimmed_mean"),
        F.round(F.sum(wins * n) / F.sum(n), 6).alias("winsorized_mean"),
        F.round(F.sum(v * n) / F.sum(n), 6).alias("plain_mean"),
    )


def finalize_ks(ref_counts: DataFrame, cur_counts: DataFrame) -> DataFrame:
    """Exact two-sample KS from two per-value count tables (__v, n):
    1 row (ks_d, n_a, n_b) — identical to the batch ks_two_sample over
    the same data (twin test)."""
    from clinpy_spark.operators.drift import ks_from_value_counts

    tagged = (
        ref_counts.select("__v", F.col("n").alias("na"), F.lit(0).alias("nb"))
        .unionByName(cur_counts.select(
            "__v", F.lit(0).alias("na"), F.col("n").alias("nb")))
        .groupBy("__v")
        .agg(F.sum("na").alias("na"), F.sum("nb").alias("nb"))
    )
    return ks_from_value_counts(tagged)


def finalize_js(
    ref_counts: DataFrame,
    cur_counts: DataFrame,
    n_bins: int,
) -> DataFrame:
    """Jensen-Shannon divergence from the SAME maintained (bin, n)
    tables the PSI fold keeps — per-bin counts are the sufficient
    statistic for both, so one streaming fold serves both monitors:
    1 row (jsd, ref_n, cur_n, n_bins), identical to the batch
    ``js_divergence`` over the same data and frozen edges (twin test).
    Same +0.5 Laplace smoothing and round-6 convention."""
    spine = ref_counts.sparkSession.range(n_bins).select(
        F.col("id").cast("int").alias("bin"))
    joined = (
        spine.join(
            F.broadcast(ref_counts.select("bin", F.col("n").alias("ref_n"))),
            "bin", "left")
        .join(
            F.broadcast(cur_counts.select("bin", F.col("n").alias("cur_n"))),
            "bin", "left")
        .na.fill({"ref_n": 0, "cur_n": 0})
    )
    tot = joined.agg(
        F.sum("ref_n").alias("__tr"), F.sum("cur_n").alias("__tc"))
    out = joined.crossJoin(F.broadcast(tot))
    p = (F.col("ref_n") + 0.5) / (F.col("__tr") + 0.5 * n_bins)
    q_ = (F.col("cur_n") + 0.5) / (F.col("__tc") + 0.5 * n_bins)
    m = (p + q_) / 2
    contrib = 0.5 * p * F.log(p / m) + 0.5 * q_ * F.log(q_ / m)
    return out.agg(
        F.round(F.sum(contrib), 6).alias("jsd"),
        F.max("__tr").alias("ref_n"),
        F.max("__tc").alias("cur_n"),
        F.lit(n_bins).alias("n_bins"),
    )


def finalize_w1(ref_counts: DataFrame, cur_counts: DataFrame) -> DataFrame:
    """EXACT Wasserstein-1 distance from the SAME maintained per-value
    count tables (__v, n) the KS fold keeps — one streaming fold
    serves both monitors: 1 row (w1, ks_d, ref_n, cur_n).

    Unlike the batch ``wasserstein_binned`` (which quantile-bins for a
    bounded grid), the maintained table IS already the per-distinct-
    value sufficient statistic, so the streaming read computes the
    exact empirical EMD: sum over ordered distinct values of
    |CDF_ref - CDF_cur| * (v_{i+1} - v_i). ks_d rides along from the
    same window. For unbounded-domain metrics the fold's ``quantize``
    bounds the table (stated, same compromise as streaming KS).
    """
    tagged = (
        ref_counts.select(
            "__v", F.col("n").alias("na"), F.lit(0).alias("nb"))
        .unionByName(cur_counts.select(
            "__v", F.lit(0).alias("na"), F.col("n").alias("nb")))
        .groupBy("__v")
        .agg(F.sum("na").alias("na"), F.sum("nb").alias("nb"))
    )
    tot = tagged.agg(F.sum("na").alias("__ta"), F.sum("nb").alias("__tb"))
    w_cum = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    w_next = Window.orderBy("__v")
    c = (
        tagged.crossJoin(F.broadcast(tot))
        .withColumn("__ca", F.sum("na").over(w_cum) / F.col("__ta"))
        .withColumn("__cb", F.sum("nb").over(w_cum) / F.col("__tb"))
        .withColumn("__vn", F.lead("__v", 1).over(w_next))
    )
    gap = F.abs(F.col("__ca") - F.col("__cb"))
    width = F.coalesce(F.col("__vn") - F.col("__v"), F.lit(0.0))
    return c.agg(
        F.round(F.sum(gap * width), 6).alias("w1"),
        F.round(F.max(gap), 6).alias("ks_d"),
        F.max("__ta").alias("ref_n"),
        F.max("__tb").alias("cur_n"),
    )


def finalize_ad(ref_counts: DataFrame, cur_counts: DataFrame) -> DataFrame:
    """Two-sample Anderson-Darling readout from the SAME maintained
    (__v, n) tables the KS fold keeps — per-value counts are the
    sufficient statistic for the whole rank-test family, so one
    streaming fold serves the gap monitor (KS) and the tail-weighted
    monitor (AD) simultaneously: 1 row (a2, n_a, n_b, n_values),
    identical to the batch ``anderson_darling_2sample`` over the same
    data (twin test)."""
    from clinpy_spark.operators.drift import ad_from_value_counts

    tagged = (
        ref_counts.select("__v", F.col("n").alias("la"), F.lit(0).alias("lb"))
        .unionByName(cur_counts.select(
            "__v", F.lit(0).alias("la"), F.col("n").alias("lb")))
        .groupBy("__v")
        .agg(F.sum("la").alias("la"), F.sum("lb").alias("lb"))
    )
    return ad_from_value_counts(tagged)
