"""The shared driver-side Newton core (functions/cramer.py) and the GLM
fitters that run on it: the step rule at every system size, overflow
to NULL instead of a driver crash, a many-class multinomial that
finishes, and fits that do not depend on the grid's row order."""

import math
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from clinpy_spark.functions.cramer import (
    fit_newton, inverse_diag, newton_step)


def _spd(m, seed):
    rng = np.random.default_rng(seed)
    a = rng.normal(size=(m + 3, m))
    return a.T @ a + m * np.eye(m)


def _upper(a):
    m = a.shape[0]
    return {(r, c): float(a[r, c]) for r in range(m) for c in range(r, m)}


@pytest.mark.parametrize("m", [1, 2, 3, 4, 5, 8])
def test_step_rule_matches_dense_solve_at_every_size(m):
    a = _spd(m, m)
    u = [float(v) for v in np.linspace(-1.0, 2.0, m)]
    beta = [0.5] * m
    step = newton_step(beta, u, _upper(a))
    want = np.asarray(beta) + np.linalg.solve(a, np.asarray(u))
    assert step == pytest.approx(list(want), rel=1e-10)
    assert inverse_diag(_upper(a)) == pytest.approx(
        list(np.diag(np.linalg.inv(a))), rel=1e-10)


@pytest.mark.parametrize("m", [1, 2, 3, 4, 5])
def test_step_rule_rejects_singular_and_nan(m):
    a = np.diag([0.0] + [1.0] * (m - 1))
    assert newton_step([0.0] * m, [1.0] * m, _upper(a)) is None
    assert inverse_diag(_upper(a)) is None
    nan = _upper(_spd(m, 1))
    nan[(0, 0)] = math.nan
    assert newton_step([0.0] * m, [1.0] * m, nan) is None
    assert inverse_diag(nan) is None


def test_fit_newton_none_when_moments_none():
    assert fit_newton(lambda beta: None, [0.0], 3) is None
    # a quadratic with minimum at 2: one step lands, the rest stay
    fit = fit_newton(lambda b: ([2.0 * (2.0 - b[0])], {(0, 0): 2.0}),
                     [0.0], 3)
    assert fit == ([2.0], [0.0], [0.5])


def test_glm_overflow_emits_null_not_crash(spark):
    """999 x (0, 0), 1 x (0, 1), 1 x (1, 1e6): the first Poisson step
    puts beta1 near 1000, so e^eta overflows. The fit emits NULL
    coefficients and keeps n and y_total instead of raising
    OverflowError on the driver."""
    from clinpy_spark.operators.assoc import (
        negbin_newton, poisson_newton, poisson_newton_multi)

    rows = [(0.0, 0.0)] * 999 + [(0.0, 1.0), (1.0, 1e6)]
    df = spark.createDataFrame(rows, "x double, y double")
    outs = {
        "poisson_newton": poisson_newton(df, "x", "y").collect()[0],
        "poisson_newton_multi":
            poisson_newton_multi(df, ["x"], "y").collect()[0],
        "negbin_newton": negbin_newton(df, "x", "y").collect()[0],
    }
    for name, r in outs.items():
        assert r["beta0"] is None and r["beta1"] is None, name
        assert r["se1"] is None, name
        assert r["n"] == 1001, name
        assert r["y_total"] == 1000001.0, name


def test_multinomial_six_classes_saturated_recovers_log_odds(spark):
    """k = 6 is a 10 x 10 system: the step rule solves it with numpy
    (a Leibniz determinant of that size has 10! terms). With a
    two-level covariate the model is saturated, so the MLE is the
    empirical log-odds against the reference class."""
    from clinpy_spark.operators.assoc import multinomial_newton

    labels = ["a", "b", "c", "d", "e", "f"]
    n0 = [50, 40, 30, 20, 60, 25]
    n1 = [30, 45, 20, 35, 25, 50]
    rows = [(0.0, c) for c, n in zip(labels, n0) for _ in range(n)]
    rows += [(1.0, c) for c, n in zip(labels, n1) for _ in range(n)]
    df = spark.createDataFrame(rows, "x double, label string")
    t0 = time.time()
    r = multinomial_newton(df, "x", "label", iterations=10,
                           digits=None).collect()[0]
    assert time.time() - t0 < 60
    assert r["class_ref"] == "a" and r["n"] == sum(n0) + sum(n1)
    for j in range(1, 6):
        b0 = math.log(n0[j] / n0[0])
        b1 = math.log(n1[j] / n1[0]) - b0
        assert r[f"beta0_{j}"] == pytest.approx(b0, abs=1e-4)
        assert r[f"beta1_{j}"] == pytest.approx(b1, abs=1e-4)
    assert r["score_norm"] < 1e-6


def test_glm_fits_bit_identical_across_partition_layouts(spark):
    """Grid rows are sorted before the driver sums them, so the
    unrounded fits are bit-identical whatever order the grid arrives
    in: the public fitters on repartition(1) vs a reversed
    repartition(7) of the same rows, and the grid readers on the same
    grid collected forward vs reversed."""
    from clinpy_spark.operators.assoc import (
        logistic_newton_multi, logistic_newton_multi_from_grid,
        multinomial_newton, multinomial_newton_from_counts,
        poisson_newton_multi)

    base = spark.range(3000).select(
        "id",
        (F.col("id") % 7).cast("double").alias("x1"),
        ((F.col("id") / 5).cast("long") % 4).cast("double").alias("x2"),
        (F.abs(F.hash("id")) % 100 < 35).cast("int").alias("yb"),
        (F.abs(F.hash(F.col("id") * 7)) % 6).cast("double").alias("yc"),
        (F.abs(F.hash(F.col("id") * 3)) % 4).cast("string").alias("lab"),
    )
    one = base.repartition(1)
    seven = base.orderBy(F.desc("id")).repartition(7)

    def fits(df):
        return [
            logistic_newton_multi(df, ["x1", "x2"], "yb", digits=None),
            poisson_newton_multi(df, ["x1", "x2"], "yc", digits=None),
            multinomial_newton(df, "x1", "lab", digits=None),
        ]

    for a, b in zip(fits(one), fits(seven)):
        assert a.collect() == b.collect()

    grid = (base.groupBy(F.col("x1").alias("__x1"), F.col("x2").alias("__x2"))
            .agg(F.count(F.lit(1)).alias("__n"), F.sum("yb").alias("__p"))
            .collect())
    counts = (base.groupBy(F.col("x1").alias("__x"), F.col("lab").alias("__y"))
              .agg(F.count(F.lit(1)).alias("__n")).collect())

    def frame(rows, schema):
        return spark.createDataFrame(rows, schema).coalesce(1)

    gs = "__x1 double, __x2 double, __n long, __p long"
    cs = "__x double, __y string, __n long"
    fwd = [logistic_newton_multi_from_grid(frame(grid, gs), 2, digits=None),
           multinomial_newton_from_counts(frame(counts, cs), digits=None)]
    rev = [logistic_newton_multi_from_grid(frame(grid[::-1], gs), 2,
                                           digits=None),
           multinomial_newton_from_counts(frame(counts[::-1], cs),
                                          digits=None)]
    for a, b in zip(fwd, rev):
        assert a.collect() == b.collect()
