"""The survival family against its DuckDB oracles at sf0.001: each
query's Spark rows equal its ``oracle_sql()`` rows under the
normalisation of ``tools/check_oracle.py`` (columns sorted by name,
floats at 9 digits, rows order-insensitive)."""

import os
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from clinpy_spark import queries as Q  # noqa: E402
from clinpy_spark.session import STAR_TABLES  # noqa: E402
from tools.check_oracle import norm_rows  # noqa: E402

SF = "/root/testdata/sf0.001"

SURVIVAL = [
    "surv_km_curve", "surv_logrank_k", "surv_logrank", "surv_na_cumhaz",
    "surv_km_ci", "surv_median_time", "surv_rmst", "surv_logrank_strat",
    "surv_cuminc", "surv_cox_score", "surv_logrank_fh",
    "surv_logrank_gehan", "surv_cox_beta", "surv_ph_check",
    "surv_life_table", "surv_cox_strat", "surv_rmst_diff", "surv_cox_tv",
    "surv_km_iptw", "surv_mcf_recurrent", "surv_aalen_excess",
    "surv_finegray_score", "surv_finegray_beta",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", SURVIVAL)
def test_survival_query_matches_oracle(spark, duck, name):
    sdf = Q.queries()[name](spark, SF)
    s_cols, s_rows = sdf.columns, sdf.collect()
    cur = duck.execute(Q.oracle_sql()[name])
    d_cols = [d[0] for d in cur.description]
    d_rows = cur.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows) > 0
    assert norm_rows(s_cols, s_rows) == norm_rows(d_cols, d_rows)
