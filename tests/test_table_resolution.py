"""Table resolution and query-build cost.

- A table's schema is inferred once per table version; the version is
  the size and mtime of every file under the table path, so a rewrite in
  place (a new column) and an append through ``ProjectCatalog.write``
  are both seen on the next read.
- Building a query costs planning, not Spark jobs: a warm build of a
  pure-read query launches none, and ``surv_cox_multi`` launches at most
  the bounded leaver collect (shuffle map stage + result) and pins no
  RDD.
"""

import datetime
import itertools

import pyarrow as pa
import pyarrow.parquet as pq

from clinpy_spark import queries as Q
from clinpy_spark.session import ProjectCatalog, session_catalog

_GROUPS = itertools.count()


def _build_jobs(spark, build):
    """(result, Spark jobs launched while ``build()`` ran, counted
    through a job group and ``statusTracker()``)."""
    sc = spark.sparkContext
    group = f"build-cost-{next(_GROUPS)}"
    sc.setJobGroup(group, "query build")
    try:
        out = build()
    finally:
        sc.setJobGroup("build-cost-idle", "between builds")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _star(root):
    """The customer/orders/lineitem columns tpch_q3_shipping and
    surv_cox_multi read, as single-file tables like the star schema."""
    day = datetime.datetime(1995, 1, 1)
    n = 240
    pq.write_table(pa.table({
        "c_custkey": list(range(1, 41)),
        "c_mktsegment": ["BUILDING" if i % 3 else "MACHINERY" for i in range(40)],
    }), f"{root}/customer.parquet")
    pq.write_table(pa.table({
        "o_orderkey": list(range(1, n + 1)),
        "o_custkey": [i % 40 + 1 for i in range(n)],
        "o_orderdate": [day + datetime.timedelta(days=(i * 37) % 1300) for i in range(n)],
        "o_orderpriority": ["1-URGENT" if i % 2 else "5-LOW" for i in range(n)],
    }), f"{root}/orders.parquet")
    pq.write_table(pa.table({
        "l_orderkey": [i % n + 1 for i in range(3 * n)],
        "l_shipdate": [day + datetime.timedelta(days=(i * 53) % 1400) for i in range(3 * n)],
        "l_extendedprice": [100.0 + i for i in range(3 * n)],
        "l_discount": [(i % 10) / 100 for i in range(3 * n)],
    }), f"{root}/lineitem.parquet")


def test_rewrite_in_place_with_new_column_is_seen(spark, tmp_path):
    root = str(tmp_path)
    path = f"{root}/orders.parquet"
    pq.write_table(pa.table({"o_orderkey": [1, 2, 3]}), path)
    catalog = ProjectCatalog(spark, root)
    assert Q._t(spark, root, "orders").count() == 3
    assert catalog.table("orders").columns == ["o_orderkey"]

    pq.write_table(pa.table({"o_orderkey": [4, 5, 6, 7],
                             "o_comment": ["a", "b", "c", "d"]}), path)
    for df in (Q._t(spark, root, "orders"), catalog.table("orders"),
               session_catalog(spark, root).table("orders")):
        assert df.columns == ["o_orderkey", "o_comment"]
        assert sorted(tuple(r) for r in df.collect()) == [
            (4, "a"), (5, "b"), (6, "c"), (7, "d")]


def test_append_to_partitioned_table_is_seen(spark, tmp_path):
    catalog = ProjectCatalog(spark, str(tmp_path))
    first = spark.createDataFrame(
        [("chr1", 100, "a"), ("chr2", 200, "b")], "chrom string, pos long, ref string")
    catalog.write(first, "calls", partition_by=["chrom"])
    before = catalog.table("calls")
    assert before.count() == 2
    assert catalog.table("calls") is before  # same version: no re-resolution

    more = spark.createDataFrame(
        [("chr1", 150, "c"), ("chrX", 300, "d")], "chrom string, pos long, ref string")
    catalog.write(more, "calls", mode="append", partition_by=["chrom"])
    for df in (catalog.table("calls"), catalog.read("calls")):
        assert sorted((r.chrom, r.pos, r.ref) for r in df.collect()) == [
            ("chr1", 100, "a"), ("chr1", 150, "c"), ("chr2", 200, "b"),
            ("chrX", 300, "d")]


def test_reads_of_one_table_self_join(spark, tmp_path):
    # every read is a fresh relation, so two reads of one table join
    # without ambiguous column references
    root = str(tmp_path)
    pq.write_table(pa.table({"k": [1, 2, 3], "parent": [None, 1, 1]}),
                   f"{root}/tree.parquet")
    a, b = Q._t(spark, root, "tree"), Q._t(spark, root, "tree")
    pairs = a.join(b, a.k == b.parent).select(a.k, b.k.alias("child")).collect()
    assert sorted(tuple(r) for r in pairs) == [(1, 2), (1, 3)]


def test_warm_builds_launch_no_table_jobs(spark, tmp_path):
    root = str(tmp_path)
    _star(root)
    builders = Q.queries()
    jsc = spark.sparkContext._jsc

    q3 = builders["tpch_q3_shipping"]
    q3(spark, root)  # cold: one schema inference per table
    df, jobs = _build_jobs(spark, lambda: q3(spark, root))
    assert jobs == 0
    assert df.count() > 0

    cox = builders["surv_cox_multi"]
    cold = cox(spark, root).collect()
    pinned = jsc.getPersistentRDDs().size()
    df, jobs = _build_jobs(spark, lambda: cox(spark, root))
    assert jobs <= 2
    assert jsc.getPersistentRDDs().size() == pinned
    assert df.collect() == cold
