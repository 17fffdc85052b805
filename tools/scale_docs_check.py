"""Document-operator scaling at 10x corpus size.

The driver's testdata caps documents at 5k rows (sf0.1); this builds a
10x replica (50k docs, multi-file parquet — the realistic input layout)
in /tmp and times the text/dedup operators at 1x vs 10x to verify
near-linear behavior where SCALING.md's SF sweep is thinnest. Writes
SCALING_DOCS.md.

    python tools/scale_docs_check.py
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from clinpy_spark import queries as Q  # noqa: E402
from clinpy_spark.operators.dedup import (  # noqa: E402
    minhash_near_duplicates,
    simhash_near_duplicates,
)
from clinpy_spark.session import get_spark  # noqa: E402

BIG = "/tmp/spark_graft_docs10x"
SF = "/root/testdata/sf0.1"


def main() -> None:
    spark = get_spark("scale-docs")
    spark.range(1).count()

    base = spark.read.parquet(f"{SF}/documents.parquet")
    if not os.path.exists(BIG):
        n = base.count()
        reps = None
        for i in range(10):
            r = base.withColumn("doc_id", F.col("doc_id") + F.lit(i * n))
            reps = r if reps is None else reps.unionByName(r)
        reps.repartition(32).write.mode("overwrite").parquet(BIG)
    big = spark.read.parquet(BIG)

    ops = {
        "minhash_near_dup": lambda df: minhash_near_duplicates(df).count(),
        "simhash_near_dup": lambda df: simhash_near_duplicates(df).count(),
        "langid_plan": lambda df: _langid(spark, df),
    }

    def _langid(spark, df):
        df.createOrReplaceTempView("__docs_tmp")
        # reuse the registry's langid plan shape on an arbitrary frame
        from clinpy_spark.functions.text import tokens
        from clinpy_spark.queries import LANG_STOPWORDS

        sw = spark.createDataFrame(
            [(lang, w) for lang, words in LANG_STOPWORDS.items() for w in words],
            "lang string, word string",
        )
        toks = df.select("doc_id", F.explode(tokens("text")).alias("tok"))
        return (
            toks.join(F.broadcast(sw), toks.tok == sw.word, "left")
            .groupBy("doc_id")
            .agg(F.count("lang").alias("hits"))
            .count()
        )

    lines = [
        "# SCALING_DOCS — document operators at 10x corpus",
        "",
        f"`python tools/scale_docs_check.py` — 1x = {SF}/documents (5k docs,"
        " single file), 10x = same corpus replicated to 50k docs across 32"
        " parquet files. Steady-state (2nd run) timings; ratio ~<=10 means the"
        " operator scales at-worst linearly in corpus size (near-dup pair",
        "counts grow ~100x under replication — every doc gains 9 exact",
        "twins — so minhash's ratio includes real extra output work).",
        "",
        "| operator | 1x | 10x | ratio |",
        "|---|---|---|---|",
    ]
    for name, fn in ops.items():
        ts = []
        for df in (base, big):
            fn(df)
            t0 = time.time()
            out = fn(df)
            ts.append(time.time() - t0)
        lines.append(f"| {name} | {ts[0]:.2f}s | {ts[1]:.2f}s | {ts[1]/ts[0]:.1f}x |")
        print(lines[-1])
    lines.append("")
    with open(os.path.join(ROOT, "SCALING_DOCS.md"), "w") as f:
        f.write("\n".join(lines))
    print("-> SCALING_DOCS.md")


if __name__ == "__main__":
    main()
