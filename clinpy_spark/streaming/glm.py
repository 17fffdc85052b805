"""Streaming twin of the GLM fitters (operators/assoc.py
logistic_newton / poisson_newton): the per-covariate-value grid
(x, n, sum_y) IS the model's additive sufficient statistic, so a
foreachBatch fold maintains it at O(batch + |x values|) per trigger
and the MLE refits ON READ over the bounded grid — continuously
updated regression coefficients (conversion-vs-score, rate-vs-band)
without ever rescanning the corpus, the same fold-partials /
recompute-on-read architecture as the KM / PSI / KS / CUSUM / ACF
twins.

Exactness contract (twin tests): the folded grid equals the batch
grid bit-for-bit (integer counters), so finalize == the batch
operator over the same data.

Only the NB2 grid has its own stream wrapper; fold the other partials
with :func:`clinpy_spark.streaming.fold.stream_fold`, e.g.
``stream_fold(stream, catalog, name, lambda b: glm_grid_partial(b, x,
y), summed(["__x"], ["n", "sy"]), "glm")``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clinpy_spark.streaming.fold import stream_fold, summed


def glm_grid_partial(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """(__x, n, sy) additive partials for one micro-batch — counts and
    outcome sums per covariate value. The covariate must be
    bounded-cardinality (the batch fitters' precondition; bucket
    continuous x first)."""
    return (
        df.select(
            F.col(x_col).cast("double").alias("__x"),
            F.col(y_col).cast("double").alias("__y"),
        )
        .filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
        .groupBy("__x")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__y").alias("sy"),
        )
    )


def finalize_logistic(grid: DataFrame, iterations: int = 8) -> DataFrame:
    """Logistic MLE over the maintained (__x, n, sy) grid — identical
    to the batch ``logistic_newton`` over the same data (twin test);
    sy must be the count of positive outcomes (y in {0, 1})."""
    from clinpy_spark.operators.assoc import logistic_newton_from_grid

    g = grid.select(
        "__x", F.col("n").alias("__n"), F.col("sy").alias("__p"))
    return logistic_newton_from_grid(g, iterations=iterations)


def glm_grid_partial_multi(
    df: DataFrame, x_cols: list[str], y_col: str
) -> DataFrame:
    """(__x1..__xd, n, sy) additive partials for one micro-batch — the
    d-covariate joint-grid sufficient statistic of
    ``logistic_newton_multi`` (bounded JOINT cardinality required, the
    batch fitter's precondition)."""
    xs = [f"__x{i}" for i in range(1, len(x_cols) + 1)]
    lab = F.col(y_col).cast("int")
    keep = lab.isNotNull()
    for c in x_cols:
        keep = keep & F.col(c).isNotNull()
    return (
        df.filter(keep)
        .select(
            *[F.col(c).cast("double").alias(x) for c, x in zip(x_cols, xs)],
            lab.alias("__y"),
        )
        .groupBy(*xs)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__y").alias("sy"))
    )


def finalize_logistic_multi(
    grid: DataFrame, d: int, iterations: int = 4
) -> DataFrame:
    """d-covariate logistic MLE over the maintained joint grid —
    identical to the batch ``logistic_newton_multi`` over the same
    rows (twin test); sy must be the count of positive outcomes."""
    from clinpy_spark.operators.assoc import logistic_newton_multi_from_grid

    xs = [f"__x{i}" for i in range(1, d + 1)]
    g = grid.select(
        *xs, F.col("n").alias("__n"), F.col("sy").alias("__p"))
    return logistic_newton_multi_from_grid(g, d, iterations=iterations)


def negbin_grid_partial(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """(__x, n, sy, syy) additive partials for one micro-batch — the
    NB2 chain's sufficient statistic (the y^2 sum feeds the moment
    dispersion estimate)."""
    return (
        df.select(
            F.col(x_col).cast("double").alias("__x"),
            F.col(y_col).cast("double").alias("__y"),
        )
        .filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
        .groupBy("__x")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__y").alias("sy"),
            F.sum(F.col("__y") * F.col("__y")).alias("syy"),
        )
    )


def stream_negbin_grid(
    stream: DataFrame,
    catalog,
    name: str,
    x_col: str,
    y_col: str,
    *,
    checkpoint: str | None = None,
    available_now: bool = True,
):
    """Fold each micro-batch's NB2 partials (n, sum_y, sum_y2 per x
    cell) into the persisted ``name`` table — the addition-merge keyed
    by the covariate cell with the idempotent lineage-scoped stamp, so
    a fresh-checkpoint restart folds its batch 0 instead of dropping it
    and a replay within a lineage never double-counts (r12 verdict #8).
    Read the live fit — Poisson start, moment dispersion, NB2 Fisher
    refit — with :func:`finalize_negbin`."""
    return stream_fold(
        stream, catalog, name,
        lambda batch: negbin_grid_partial(batch, x_col, y_col),
        summed(["__x"], ["n", "sy", "syy"]), "nb2",
        checkpoint=checkpoint, available_now=available_now)


def finalize_negbin(grid: DataFrame, iterations: int = 4) -> DataFrame:
    """NB2 MLE chain over the maintained (__x, n, sy, syy) grid —
    identical to the batch ``negbin_newton`` over the same rows (twin
    test): Poisson fit, moment dispersion, NB2 Fisher refit, all on
    read, never rescanning history."""
    from clinpy_spark.operators.assoc import negbin_newton_from_grid

    g = grid.select(
        "__x", F.col("n").alias("__n"), F.col("sy").alias("__sy"),
        F.col("syy").alias("__syy"))
    return negbin_newton_from_grid(g, iterations=iterations)


def finalize_poisson(grid: DataFrame, iterations: int = 4) -> DataFrame:
    """Poisson MLE over the maintained (__x, n, sy) grid — identical
    to the batch ``poisson_newton`` over the same data (twin test)."""
    from clinpy_spark.operators.assoc import poisson_newton_from_grid

    g = grid.select(
        "__x", F.col("n").alias("__n"), F.col("sy").alias("__sy"))
    return poisson_newton_from_grid(g, iterations=iterations)


def multinomial_count_partial(
    df: DataFrame, x_col: str, label_col: str,
) -> DataFrame:
    """(__x, __y, n) additive partials for one micro-batch — the
    softmax MLE's sufficient statistic (per-(covariate, class)
    counts)."""
    xv = F.col(x_col).cast("double")
    lab = F.col(label_col).cast("string")
    return (
        df.filter(xv.isNotNull() & lab.isNotNull())
        .select(xv.alias("__x"), lab.alias("__y"))
        .groupBy("__x", "__y")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def finalize_multinomial(counts: DataFrame, iterations: int = 4) -> DataFrame:
    """k-class softmax MLE over the maintained (__x, __y, n) count
    table — identical to the batch ``multinomial_newton`` over the
    same rows (twin test)."""
    from clinpy_spark.operators.assoc import multinomial_newton_from_counts

    g = counts.select("__x", "__y", F.col("n").alias("__n"))
    return multinomial_newton_from_counts(g, iterations=iterations)


def finalize_ordinal(
    counts: DataFrame, levels: list, iterations: int = 6,
) -> DataFrame:
    """Proportional-odds ordinal MLE over the SAME maintained
    (__x, __y, n) count table the multinomial reader uses — one fold,
    two readers (nominal and ordinal); identical to the batch
    ``ordinal_newton`` over the same rows (twin test)."""
    from clinpy_spark.operators.assoc import ordinal_newton_from_counts

    g = counts.select("__x", "__y", F.col("n").alias("__n"))
    return ordinal_newton_from_counts(g, levels, iterations=iterations)
