"""Headed TSV reader with the header read on the driver.

``spark.read.csv(header=True)`` without a schema runs one Spark job per
file just to read the first line. Here the first line is read with
Python's ``csv`` module (gzip-aware, like the VCF header pass in
:mod:`clinpy_spark.sources.vcf`) and handed to Spark as an all-string
schema, so building the DataFrame runs no job. The columns and types
are those of ``header=True, inferSchema=False``, including Spark's
renaming of empty (``_c<i>``) and duplicate (``<name><i>``) header
fields.
"""

from __future__ import annotations

import csv
import gzip
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType


def tsv_header(path: str, case_sensitive: bool = False) -> list[str]:
    """Column names of a tab-separated file's first line, as Spark's
    CSV reader names them."""
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8", newline="") as fh:
        names = next(csv.reader(fh, delimiter="\t"), [])
    key = (lambda n: n) if case_sensitive else str.lower
    seen = Counter(key(n) for n in names if n)
    return [n if n and seen[key(n)] == 1 else f"{n or '_c'}{i}"
            for i, n in enumerate(names)]


def read_tsv(spark: SparkSession, path: str) -> DataFrame:
    """A headed TSV as all-string columns, built without a Spark job."""
    case_sensitive = spark.conf.get("spark.sql.caseSensitive", "false").lower() == "true"
    schema = StructType([StructField(n, StringType())
                         for n in tsv_header(path, case_sensitive)])
    return spark.read.csv(path, sep="\t", header=True, schema=schema)
