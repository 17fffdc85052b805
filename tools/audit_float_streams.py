"""Bit-level float-stream audit for the driver-side Newton fitters.

For the queries whose Newton/score reductions run driver-side in a
PINNED order with ordered-aggregate oracles (r13 verdict #1 /
OPTIMIZATION_r14.md), this compares the UNROUNDED Spark emissions
(digits=None) against the DuckDB oracle with ``round()`` stripped, at
every SF — the proof that the two engines' float streams agree far
inside the rounding contract (cox multi: exactly; finegray: to the
irreducible Spark-sequential vs DuckDB-segment-tree window-sum
association, ~1e-13 relative; binary cox and the multi-covariate
logistic/Poisson GLMs: to the oracle's unordered sums, same tolerance
as finegray, with the converged logistic fit's score norm compared
absolutely).

Usage:
    python tools/audit_float_streams.py [sf ...]   # default: all three
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from clinpy_spark import queries as Q  # noqa: E402
from clinpy_spark.session import STAR_TABLES, get_spark  # noqa: E402


def _obs_cox(spark, sf_dir, d3):
    o = Q._t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    h = F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
               16, 10).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(F.lit("1998-08-02").cast("date"),
                    F.col("o_orderdate")).cast("long")
    cols = [
        F.least(followup, dd).alias("duration"),
        F.when(followup <= dd, 1).otherwise(0).alias("evt"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1.0).otherwise(0.0)
        .alias("x1"),
        (F.col("o_custkey") % 2).cast("double").alias("x2"),
    ]
    if d3:
        cols.append((F.col("o_custkey") % 3).cast("double").alias("x3"))
    return o.select(*cols)


def _obs_fg(spark, sf_dir):
    o = Q._t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    h = F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
               16, 10).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(F.lit("1998-08-02").cast("date"),
                    F.col("o_orderdate")).cast("long")
    return o.select(
        F.least(followup, dd).alias("t"),
        F.when(followup <= dd,
               F.when(h % 3 == 0, 2).otherwise(1)).otherwise(0).alias("st"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        .alias("x"))


def _obs_logit(spark, sf_dir):
    """dx_logistic_multi's input."""
    return Q._t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x1"),
        F.col("l_linenumber").cast("double").alias("x2"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"))


def _obs_poisson(spark, sf_dir):
    """dx_poisson_multi's input."""
    cust = Q._t(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_nationkey") % 5).cast("double").alias("x1"),
        (F.col("c_custkey") % 3).cast("double").alias("x2"))
    per_c = (Q._t(spark, sf_dir, "orders").groupBy("o_custkey")
             .agg(F.count(F.lit(1)).alias("n_orders")))
    return cust.join(per_c, cust.c_custkey == per_c.o_custkey, "left").select(
        "x1", "x2", F.coalesce("n_orders", F.lit(0)).alias("y"))


_ROUND = re.compile(r"\bround\(")


def _strip_round(sql: str, digits: int) -> str:
    """``sql`` with every ``round(<expr>, digits)`` call replaced by
    ``(<expr>)``, nested calls included. Each call's extent is found by
    a paren-balanced scan and only its last top-level argument is
    checked, so any other ``, digits)`` (``substr(x, 1, 6)``) is kept.
    Parentheses inside string literals are not special-cased."""
    out, i = [], 0
    while m := _ROUND.search(sql, i):
        j = m.end()  # just past "round("
        depth, k, comma = 1, j, -1
        while depth:
            c = sql[k]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "," and depth == 1:
                comma = k
            k += 1
        # sql[k - 1] is the call's closing paren
        if comma >= 0 and sql[comma + 1:k - 1].strip() == str(digits):
            out.append(sql[i:m.start()] + "("
                       + _strip_round(sql[j:comma], digits) + ")")
        else:
            out.append(sql[i:j] + _strip_round(sql[j:k - 1], digits) + ")")
        i = k
    out.append(sql[i:])
    return "".join(out)


# A converged GLM fit's score norm ||U|| is the round-off floor
# of the score sums (~1e-10 at sf0.1), so its relative difference
# between two engines measures noise. For these cases it is compared
# absolutely, against a bound far inside the round-5 emission grid.
_ABS_SCORE_NORM = {"dx_logistic_multi"}
_SCORE_NORM_ABS_TOL = 1e-8


def _duck(sf_dir, sql, digits):
    sql = _strip_round(sql, digits)
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    cur = con.execute(sql)
    return dict(zip([d[0] for d in cur.description], cur.fetchone()))


def main() -> int:
    from clinpy_spark.operators.survival import (
        _binary_cox_cols, _binary_event_grid, _fit_binary_cox, _literal_row,
        cox_newton_multi, finegray_leavers, finegray_newton_from_leavers,
        finegray_score_from_leavers)
    from clinpy_spark.operators.assoc import (
        logistic_newton_multi, poisson_newton_multi)
    from clinpy_spark.queries import (
        _cox_multi3_sql, _cox_multi_sql, _finegray_beta_sql,
        _logit_multi_irls_sql, _poisson_multi_irls_sql)

    sfs = sys.argv[1:] or ["sf0.001", "sf0.01", "sf0.1"]
    spark = get_spark("audit-float-streams")
    worst_all = 0.0
    bad = 0
    for sf in sfs:
        sf_dir = f"/root/testdata/{sf}"
        leav = finegray_leavers(_obs_fg(spark, sf_dir), "t", "st", "x")
        # cox_newton's fit and emission with digits=None (n_subjects is
        # the cohort count it cross-joins)
        obs = _obs_cox(spark, sf_dir, False)
        fit = _fit_binary_cox(
            _binary_event_grid(obs, "duration", "evt", "x1"), 3)
        cox_beta = _literal_row(spark, _binary_cox_cols(*fit, digits=None)
                                + [("n_subjects", obs.count())])
        cases = [
            ("surv_cox_beta", cox_beta, Q._ORACLE["surv_cox_beta"], 6,
             1e-11),
            ("surv_cox_multi",
             cox_newton_multi(_obs_cox(spark, sf_dir, False), "duration",
                              "evt", ["x1", "x2"], 4, digits=None),
             _cox_multi_sql(4), 5, 0.0),
            ("surv_cox_multi3",
             cox_newton_multi(_obs_cox(spark, sf_dir, True), "duration",
                              "evt", ["x1", "x2", "x3"], 4, digits=None),
             _cox_multi3_sql(4), 5, 0.0),
            ("surv_finegray_score",
             finegray_score_from_leavers(leav, digits=None),
             Q._ORACLE["surv_finegray_score"], 6, 1e-11),
            ("surv_finegray_beta",
             finegray_newton_from_leavers(leav, 3, digits=None),
             _finegray_beta_sql(3), 6, 1e-11),
            ("dx_logistic_multi",
             logistic_newton_multi(_obs_logit(spark, sf_dir), ["x1", "x2"],
                                   "y", 4, digits=None),
             _logit_multi_irls_sql(4), 5, 1e-11),
            ("dx_poisson_multi",
             poisson_newton_multi(_obs_poisson(spark, sf_dir),
                                  ["x1", "x2"], "y", 4, digits=None),
             _poisson_multi_irls_sql(4), 5, 1e-11),
        ]
        for name, sdf, sql, digits, tol in cases:
            s = sdf.collect()[0]
            o = _duck(sf_dir, sql, digits)
            worst, wc, resid = 0.0, "exact", ""
            for c in o:
                sv, ov = s[c], o[c]
                if sv is None and ov is None:
                    continue
                if (sv is None) != (ov is None):
                    print(f"FAIL {sf} {name} {c}: NULL mismatch {sv} {ov}")
                    bad += 1
                    continue
                err = abs(float(sv) - float(ov))
                if c == "score_norm" and name in _ABS_SCORE_NORM:
                    resid = f"; score_norm abs {err:.2e}"
                    if err > _SCORE_NORM_ABS_TOL:
                        print(f"FAIL {sf} {name} score_norm: abs {err:.2e},"
                              f" tol {_SCORE_NORM_ABS_TOL:g}")
                        bad += 1
                    continue
                rel = err / max(abs(float(ov)), 1e-300)
                if rel > worst:
                    worst, wc = rel, c
            status = "ok  " if worst <= tol else "FAIL"
            if worst > tol:
                bad += 1
            worst_all = max(worst_all, worst)
            print(f"{status} {sf} {name}: worst rel {worst:.2e} ({wc}),"
                  f" tol {tol:g}{resid}")
    print(f"\nworst overall: {worst_all:.2e}; {bad} failures")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
