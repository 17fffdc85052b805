"""Shape-level plan-audit checks (r10 verdict #3): the allowlist in
tools/explain_audit.py documents WHY a query carries a nested-loop shape,
but the audit itself must verify the SHAPE — every BNLJ/CartesianProduct
build side has to be a constant-row subtree, so a rotted allowlist entry
(a real large-large nested loop sneaking in under an allowlisted name)
still fails."""

import io
import os
import sys
from contextlib import redirect_stdout

from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.explain_audit import (  # noqa: E402
    EXPECTED_UNBOUNDED,
    unbounded_join_hazards,
)

SF = "/root/testdata/sf0.001"


def _plan(df):
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_one_row_aggregate_build_side_is_bounded(spark):
    big = spark.read.parquet(f"{SF}/lineitem.parquet")
    one = spark.read.parquet(f"{SF}/customer.parquet").agg(
        F.avg("c_acctbal").alias("thr")
    )
    plan = _plan(big.crossJoin(F.broadcast(one)))
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
    assert unbounded_join_hazards(plan) == []


def test_driver_constant_build_side_is_bounded(spark):
    big = spark.read.parquet(f"{SF}/lineitem.parquet")
    # r11 verdict #5 policy change: a LIST createDataFrame renders the
    # same `Scan ExistingRDD` node as a localCheckpoint of the whole
    # corpus — indistinguishable in the plan, so conservatively flagged
    # even when actually tiny. The sanctioned constant-table idioms are
    # range() and the literal-inline form (next test).
    const = spark.createDataFrame([(0.0,), (1.0,)], "edge double")
    plan = _plan(big.crossJoin(F.broadcast(const)))
    assert unbounded_join_hazards(plan) != []
    rng = spark.range(200)
    plan = _plan(big.crossJoin(F.broadcast(rng)))
    assert unbounded_join_hazards(plan) == []


def test_large_large_nested_loop_fails_even_if_allowlisted(spark):
    """The synthetic rot case: both sides scan parquet. The shape gate must
    flag it — and the gate is name-blind, so allowlist membership (e.g.
    graph_pagerank) cannot save it."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    od = spark.read.parquet(f"{SF}/orders.parquet")
    plan = _plan(li.crossJoin(F.broadcast(od)))
    hazards = unbounded_join_hazards(plan)
    assert hazards and "no constant-row side" in hazards[0]
    assert "graph_pagerank" in EXPECTED_UNBOUNDED  # allowlisted name exists...
    # ...but unbounded_join_hazards takes no name at all: the hazard above
    # would be reported for ANY registry entry producing this plan.


def test_big_existing_rdd_bnlj_fails_gate(spark):
    """r11 verdict #5: `Scan ExistingRDD` (a pandas createDataFrame or
    a localCheckpoint — the plan carries no row bound for either) must
    NOT be trusted as a constant-row side. Both flavors on a
    nested-loop side flag."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    # localCheckpoint flavor: corpus-derived, arbitrarily large
    ck = spark.read.parquet(f"{SF}/orders.parquet").localCheckpoint(
        eager=False)
    plan = _plan(li.crossJoin(F.broadcast(ck)))
    hazards = unbounded_join_hazards(plan)
    assert hazards and "no constant-row side" in hazards[0]
    # driver-created flavor: a BIG list createDataFrame renders the
    # same ExistingRDD node as a 2-row one — indistinguishable in the
    # plan text, so the gate must flag it
    big = spark.createDataFrame([(i,) for i in range(5000)], "k long")
    plan = _plan(li.crossJoin(F.broadcast(big)))
    hazards = unbounded_join_hazards(plan)
    assert hazards and "no constant-row side" in hazards[0]


def test_literal_inline_table_is_bounded(spark):
    """The sanctioned constant-table idiom (inline of a literal struct
    array over range(1) — how fit_centroids now emits centroids)
    proves its own boundedness in the plan."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    structs = [F.struct(F.lit(i).alias("cell"),
                        F.array(F.lit(float(i))).alias("__ctr"))
               for i in range(4)]
    cents = spark.range(1).select(F.inline(F.array(*structs)))
    plan = _plan(li.crossJoin(F.broadcast(cents)))
    assert unbounded_join_hazards(plan) == []


def test_keyed_aggregate_build_side_is_not_bounded(spark):
    """A grouped aggregate's row count follows the key cardinality — data-
    dependent, so NOT constant-row."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    keyed = spark.read.parquet(f"{SF}/orders.parquet").groupBy("o_custkey").agg(
        F.count("*").alias("n")
    )
    plan = _plan(li.crossJoin(F.broadcast(keyed)))
    hazards = unbounded_join_hazards(plan)
    assert hazards and "no constant-row side" in hazards[0]


def test_limit_and_nested_constant_join_are_bounded(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    top = spark.read.parquet(f"{SF}/orders.parquet").orderBy("o_totalprice").limit(5)
    plan = _plan(li.crossJoin(F.broadcast(top)))
    assert unbounded_join_hazards(plan) == []
    # a cross of two 1-row aggregates is itself constant-row
    a = li.agg(F.sum("l_quantity").alias("s"))
    b = li.agg(F.count("*").alias("n"))
    plan = _plan(li.crossJoin(F.broadcast(a.crossJoin(b))))
    assert unbounded_join_hazards(plan) == []
