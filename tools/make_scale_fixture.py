"""Derive an sf1 scaling fixture from the driver's sf0.1 tables.

The driver ships sf0.001/0.01/0.1 only; SCALING.md's exponents fitted
at sf<=0.1 are overhead-dominated (VERDICT r5 #7). This builds a 10x
replication of sf0.1 under _scaledata/sf1 so scale_check can fit the
linearity claim over a decade that actually exercises data volume.

Replication preserves join semantics the way TPC-H's own sf scaling
does: every scaled entity key is shifted per copy (so fk joins, per-key
windows, and banded self-joins stay WITHIN a copy — pair-emitting
queries grow linearly, not quadratically), dims (nation/region) stay
fixed, and document text is token-salted per copy so cross-copy
near-duplicate pairs don't exist (each copy keeps its own intra-copy
duplicate structure).

Derived measurement data only — the driver's own testdata is never
touched, and the fixture directory is gitignored.

Usage: python tools/make_scale_fixture.py [copies=10]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from clinpy_spark.queries import _t  # noqa: E402
from clinpy_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = os.path.join(ROOT, "_scaledata", "sf1")
SHIFT = 1_000_000_000  # > any key at sf0.1

#: table -> integer key columns shifted per copy.
SHIFT_COLS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
FIXED = ["nation", "region"]


def main() -> None:
    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("make-scale-fixture")
    os.makedirs(DST, exist_ok=True)
    copy = F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("__copy")

    for name in FIXED:
        _t(spark, SRC, name).write.mode("overwrite").parquet(f"{DST}/{name}.parquet")
        print(f"{name}: copied")

    for name, keys in SHIFT_COLS.items():
        df = _t(spark, SRC, name).select("*", copy)
        for k in keys:
            # source keys are 32-bit in the parquet; widen before shifting
            df = df.withColumn(k, F.col(k).cast("long") + F.col("__copy").cast("long") * SHIFT)
        if name == "documents":
            # Salt every non-leading token with the copy id: injective
            # per copy, so shingle/minhash similarity never crosses
            # copies while intra-copy duplicate structure is preserved.
            df = df.withColumn(
                "text",
                F.when(F.col("__copy") == 0, F.col("text")).otherwise(
                    F.regexp_replace(
                        "text", r"\s+", F.concat(F.lit(" c"), F.col("__copy"))
                    )
                ),
            )
        if name == "part":
            # Same intra-copy-only rule for the fuzzy-join column: suffix
            # each copy's names with a copy tag whose LENGTH advances by 3
            # per copy (> the fuzzy ±2 length band), so length bins never
            # mix copies — cross-copy candidate volume vanishes (not just
            # cross-copy matches), pair volume AND candidate volume grow
            # linearly with copies, and each copy keeps the source's
            # intra-copy near-dup structure. (A fixed-length tag kept the
            # matches intra-copy but let all 9 salted copies share length
            # bins: ~81x candidate work at 10x data, alpha 1.9.)
            tag = F.concat(
                F.lit(" "),
                F.repeat(F.col("__copy").cast("string"), 3),
                F.repeat(F.lit("x"), (F.col("__copy") - 1) * 3),
            )
            df = df.withColumn(
                "p_name",
                F.when(F.col("__copy") == 0, F.col("p_name")).otherwise(
                    F.concat(F.col("p_name"), tag)
                ),
            )
        df.drop("__copy").repartition(32).write.mode("overwrite").parquet(
            f"{DST}/{name}.parquet"
        )
        print(f"{name}: x{copies}")


if __name__ == "__main__":
    main()
