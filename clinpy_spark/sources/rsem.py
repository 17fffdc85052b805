"""RSEM expression-table readers (reference rna_functions.py:15-27).

The reference reads per-sample TSVs with pandas, drops length columns,
renames to canonical lowercase names, and stamps the sample id (P11/P14).
Here the same shape as a Spark csv scan — the header is read on the
driver (:func:`~clinpy_spark.sources.tsv.read_tsv`), so building the
DataFrame runs no Spark job and nothing is inferred.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinpy_spark.sources.tsv import read_tsv


def read_rsem_genes(spark: SparkSession, path: str, samplename: str) -> DataFrame:
    """RSEM ``*.genes.results`` -> (samplename, gene, expected_count,
    tpm, fpkm). Reference rna_functions.py:15-21."""
    df = read_tsv(spark, path)
    return df.select(
        F.lit(samplename).alias("samplename"),
        F.col("gene_id").alias("gene"),
        F.col("expected_count").cast("double"),
        F.col("TPM").cast("double").alias("tpm"),
        F.col("FPKM").cast("double").alias("fpkm"),
    )


def read_rsem_isoforms(spark: SparkSession, path: str, samplename: str) -> DataFrame:
    """RSEM ``*.isoforms.results`` -> (samplename, transcript,
    expected_count, tpm, fpkm, isopct). Reference rna_functions.py:23-27."""
    df = read_tsv(spark, path)
    return df.select(
        F.lit(samplename).alias("samplename"),
        F.col("transcript_id").alias("transcript"),
        F.col("expected_count").cast("double"),
        F.col("TPM").cast("double").alias("tpm"),
        F.col("FPKM").cast("double").alias("fpkm"),
        F.col("IsoPct").cast("double").alias("isopct"),
    )
