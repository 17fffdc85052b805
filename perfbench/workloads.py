"""The benchmark's workloads: inputs, ops and the answer each op must give.

Every workload builds its inputs from the seed before the session starts,
together with an answer for every op that does not come from the program:
pandas over the generator's ground truth (``cohort``) or DuckDB over the
same parquet (``analytics_batch``). An op is one call into the program's
public surface plus the action that brings its result back to the driver.
"""

from __future__ import annotations

import datetime
import math
import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd

import gen


@dataclass
class Op:
    name: str
    build: Callable[[], object]            # call into the program
    collect: Callable[[object], object]    # action: result back on the driver
    check: Callable[[object], bool]        # compare with the independent answer


# -- value normalisation, as tools/check_oracle.py does it ------------------

def norm_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_val(r[i]) for i in order) for r in rows)


def _frame_rows(df: pd.DataFrame, cols: list[str]) -> list[tuple]:
    """Sorted normalised tuples of ``cols``; NaN/None both read NULL."""
    sub = df[cols].astype(object).where(df[cols].notna(), None)
    return sorted(tuple(norm_val(v.item() if hasattr(v, "item") else v) for v in r)
                  for r in sub.itertuples(index=False, name=None))


def _same_rows(cols: list[str], expected: pd.DataFrame) -> Callable[[pd.DataFrame], bool]:
    want = _frame_rows(expected, cols)
    return lambda got: set(cols) <= set(got.columns) and _frame_rows(got, cols) == want


# -- cohort -----------------------------------------------------------------

COHORT_SIZES = {
    "default": gen.ClinicalSize(n_samples=3, n_genes=3000, tx_per_gene=2, n_junctions=4000,
                                junctions_per_sample=1500, n_variants=2500,
                                variants_per_sample=600),
    "tiny": gen.ClinicalSize(n_samples=2, n_genes=200, tx_per_gene=2, n_junctions=300,
                             junctions_per_sample=120, n_variants=200,
                             variants_per_sample=60),
}


class Cohort:
    """Interactive reads of one project, each pulled into pandas.

    Set-up builds the project with the program's ``create_project``; the
    ops are a seeded mix of assay calls over one ``ProjectCatalog``."""

    name = "cohort"
    layer = "assays"

    def __init__(self, work: str, seed: int, size: str):
        self.seed = seed
        self.raw = os.path.join(work, "raw")
        self.project_dir = os.path.join(work, "project")
        self.size = COHORT_SIZES[size]
        self.data = gen.clinical(self.raw, seed, self.size)
        self.raw_bytes = sum(os.path.getsize(os.path.join(self.raw, f))
                             for f in os.listdir(self.raw))
        self.catalog = None

    def inputs(self) -> dict:
        d = self.data
        return {"samples": self.size.n_samples, "genes": self.size.n_genes,
                "transcripts": self.size.n_genes * self.size.tx_per_gene,
                "junction_rows": len(d["sj"]), "variant_calls": len(d["calls"]),
                "impact_rows": len(d["impacts"]), "raw_mb": self.raw_bytes / 2**20}

    def setup(self, spark, tracer) -> None:
        from clinpy_spark.etl import create_project

        config = gen.project_config(self.data, os.path.join(self.raw, "samples.tsv"))
        self.catalog = tracer.span("etl.create_project", create_project,
                                   spark, self.project_dir, config)

    def ops(self, fault: bool = False) -> list[Op]:
        from clinpy_spark.assays import Expression, Junctions, Project, Variants

        d, rng = self.data, np.random.default_rng(self.seed + 1)
        cat = self.catalog
        project, expr = Project(cat), Expression(cat)
        junc, var = Junctions(cat), Variants(cat)
        names = d["names"]
        samples = d["samples"]
        # Parameters are drawn so that result sizes do not depend on the
        # seed: the largest cohort, and regions spanning a fixed number of
        # junctions or called variants.
        c1 = samples.groupby("cohort").size().sort_values(kind="stable").index[-1]
        pick2 = sorted(rng.choice(names, 2, replace=False).tolist())
        genes_wide = sorted(rng.choice(d["genes"], 40, replace=False).tolist())
        genes_norm = sorted(rng.choice(d["genes"], len(d["genes"]) // 8, replace=False).tolist())
        to_pd = lambda df: df.toPandas()  # noqa: E731

        # project
        meta_cols = ["sample_id", "cohort", "age", "sex"]
        want_desc = "\n".join(
            [f"Project with {len(samples)} samples:"]
            + [f"  cohort {c}: {n}" for c, n in samples.groupby("cohort").size().sort_index().items()])

        # expression
        tx = d["transcript_expression"]
        members = set(samples.sample_id[samples.cohort == c1])
        tx_c1 = tx[tx.samplename.isin(members)]
        ge = d["gene_expression"]
        wide = ge[ge.gene.isin(genes_wide)].pivot(index="gene", columns="samplename",
                                                   values="tpm").reset_index()
        norm = ge[ge.gene.isin(genes_norm)].copy()
        norm["cpm"] = norm.expected_count * 1e6 / norm.groupby("samplename").expected_count.transform("sum")

        def _cpm_ok(got: pd.DataFrame) -> bool:
            m = got.merge(norm, on=["samplename", "gene"], suffixes=("", "_want"))
            return len(m) == len(norm) == len(got) and bool(
                np.allclose(m.cpm, m.cpm_want, rtol=1e-9, atol=0))

        # junctions (the filtered pass: uniq_map >= 3, stranded)
        sj = d["sj"]
        flt = sj[(sj.uniq_map >= 3) & (sj.strand != ".")]
        jcols = ["samplename", "chrom", "start", "end", "strand", "uniq_map", "multi_map"]
        shared = flt.groupby(["chrom", "start", "end", "strand"]).samplename.nunique()
        jx = shared.sort_values(kind="stable").index[-1 - int(rng.integers(0, 20))]
        jx = (jx[0], int(jx[1]), int(jx[2]), jx[3])
        j_carriers = flt[(flt.chrom == jx[0]) & (flt.start == jx[1]) & (flt.end == jx[2])
                         & (flt.strand == jx[3])]
        r_chrom, r_strand = gen.CHROMS[int(rng.integers(0, len(gen.CHROMS)))], "+"
        starts = np.sort(flt[(flt.chrom == r_chrom) & (flt.strand == r_strand)].start.unique())
        i = int(rng.integers(0, len(starts) - len(starts) // 10))
        r_lo, r_hi = int(starts[i]), int(starts[i + len(starts) // 10])
        in_region = flt[(flt.chrom == r_chrom) & (flt.strand == r_strand)
                        & (flt.end >= r_lo) & (flt.start <= r_hi)]

        # variants
        calls = d["calls"]
        vcols = ["chrom", "pos", "ref", "alt", "id", "samplename", "qual", "filter", "gt", "dp"]
        v_chrom = gen.CHROMS[int(rng.integers(0, len(gen.CHROMS)))]
        pos = np.sort(calls[calls.chrom == v_chrom].pos.unique())
        i = int(rng.integers(0, len(pos) // 2))
        v_lo, v_hi, i_hi = int(pos[i]), int(pos[i + len(pos) // 4]), int(pos[i + len(pos) // 16])
        v_region = calls[(calls.chrom == v_chrom) & calls.pos.between(v_lo, v_hi)]
        hom = calls[(calls["gt"] == "(1, 1)") & calls.samplename.isin(pick2)]
        i_calls = calls[(calls.chrom == v_chrom) & calls.pos.between(v_lo, i_hi)]
        icols = ["chrom", "pos", "ref", "alt", "samplename"] + [f.lower() for f in gen.CSQ_FIELDS]
        with_imp = i_calls.merge(d["impacts"], on="vi").replace({"": None})
        vx = calls.groupby("vi").samplename.nunique().sort_values(kind="stable").index[-1]
        v_row = d["variants"].iloc[vx]
        v_carriers = set(calls.samplename[calls.vi == vx])

        n = len(set(calls.samplename))
        per_v = calls.groupby("vi")["gt"].agg(
            n_het=lambda g: int((g == "(0, 1)").sum()), n_hom_alt=lambda g: int((g == "(1, 1)").sum()))
        hwe_want = []
        for h, a in zip(per_v.n_het, per_v.n_hom_alt):
            r = n - h - a
            q = (2 * a + h) / (2.0 * n)
            p = 1 - q
            e0, e1, e2 = n * p * p, n * 2 * p * q, n * q * q
            chi = 0.0 if q in (0.0, 1.0) else (
                (r - e0) ** 2 / e0 + (h - e1) ** 2 / e1 + (a - e2) ** 2 / e2)
            hwe_want.append((n, r, h, a, round(q, 6), chi))
        hwe_want.sort()

        def _hwe_ok(got: pd.DataFrame) -> bool:
            rows = sorted(zip(got.n, got.n_hom_ref, got.n_het, got.n_hom_alt,
                              got.alt_freq, got.chi2))
            return len(rows) == len(hwe_want) and all(
                g[:4] == w[:4] and abs(g[4] - w[4]) < 2e-6 and abs(g[5] - w[5]) < 2e-6
                for g, w in zip(rows, hwe_want))

        def _set_of(col: str, want: set) -> Callable[[pd.DataFrame], bool]:
            return lambda got: len(got) == len(want) and set(got[col]) == want

        ops = [
            Op("Project.samples", lambda: project.samples(cohort=[c1]), to_pd,
               _same_rows(meta_cols, samples[samples.cohort == c1])),
            Op("Project.describe", project.describe, lambda s: s, lambda s: s == want_desc),
            Op("Expression.select_long", lambda: expr.select(cohort=[c1], what="transcript"),
               to_pd, _same_rows(["samplename", "transcript", "expected_count", "tpm", "fpkm",
                                  "isopct"], tx_c1)),
            Op("Expression.select_wide",
               lambda: expr.select(features=genes_wide, long=False, metric="tpm"), to_pd,
               _same_rows(["gene", *names], wide)),
            Op("Expression.normalize", lambda: expr.normalize(features=genes_norm), to_pd,
               _cpm_ok),
            Op("Junctions.select", lambda: junc.select(samples=pick2), to_pd,
               _same_rows(jcols, flt[flt.samplename.isin(pick2)])),
            Op("Junctions.search", lambda: junc.search(r_chrom, r_lo, r_hi, r_strand), to_pd,
               _same_rows(jcols, in_region)),
            Op("Junction.samples", lambda: junc.junction(*jx).samples(), to_pd,
               _set_of("samplename", set(j_carriers.samplename))),
            Op("Variants.select_region", lambda: var.select(region=(v_chrom, v_lo, v_hi)),
               to_pd, _same_rows(vcols, v_region)),
            Op("Variants.select_genotype", lambda: var.select(samples=pick2, genotype="hom"),
               to_pd, _same_rows(vcols, hom)),
            Op("Variants.select_impacts",
               lambda: var.select(region=(v_chrom, v_lo, i_hi), impacts=True), to_pd,
               _same_rows(icols, with_imp)),
            Op("Variants.hwe", var.hwe, to_pd, _hwe_ok),
            Op("Variant.samples",
               lambda: var.variant(v_row.chrom, int(v_row.pos), v_row.ref, v_row.alt).samples(),
               to_pd, _set_of("samplename", v_carriers)),
        ]
        if fault:
            ops[0].check = lambda got: False
        return ops

    def setup_counts(self) -> dict:
        """Files and bytes the ETL wrote, for the traced run."""
        files = nbytes = 0
        for dp, _, fs in os.walk(self.project_dir):
            for f in fs:
                nbytes += os.path.getsize(os.path.join(dp, f))
                files += f.endswith(".parquet")
        return {"files": files, "bytes": nbytes, "raw_bytes": self.raw_bytes,
                "samples": self.size.n_samples}


# -- analytics_batch --------------------------------------------------------

#: Registry queries, one op each, all with an ``oracle_sql()`` entry:
#: scan/aggregate, a join chain, a band join, windows, text hashing, a
#: Python grouped map and a driver-side numpy solve.
ANALYTICS_QUERIES = [
    "tpch_q1_pricing",
    "tpch_q3_shipping",
    "j12_band_pairs",
    "o1_topk_per_group",
    "e_sessionize",
    "dedup_exact_stats",
    "u1_grouped_filter",
    "surv_cox_multi",
]
ANALYTICS_SF = {"default": 0.01, "tiny": 0.001}


class Analytics:
    """Registry queries from ``queries()`` over a generated star schema."""

    name = "analytics_batch"
    layer = "queries"

    def __init__(self, work: str, seed: int, size: str):
        import duckdb
        from clinpy_spark import queries as Q

        self.sf = ANALYTICS_SF[size]
        self.data_dir = os.path.join(work, f"sf{self.sf}")
        gen.star(self.data_dir, seed, self.sf)
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.data_dir)):
                t = f.removesuffix(".parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{f}'")
            oracles = Q.oracle_sql()
            self.want = {}
            for name in ANALYTICS_QUERIES:
                cur = con.execute(oracles[name])
                cols = [c[0] for c in cur.description]
                self.want[name] = (sorted(cols), norm_rows(cols, cur.fetchall()))
        finally:
            con.close()

    def inputs(self) -> dict:
        import pyarrow.parquet as pq

        rows = {f.removesuffix(".parquet"): pq.ParquetFile(os.path.join(self.data_dir, f)).metadata.num_rows
                for f in os.listdir(self.data_dir)}
        mb = sum(os.path.getsize(os.path.join(self.data_dir, f))
                 for f in os.listdir(self.data_dir)) / 2**20
        return {"sf": self.sf, "queries": len(ANALYTICS_QUERIES), "data_mb": mb,
                "rows": rows}

    def setup(self, spark, tracer) -> None:
        self.spark = spark

    def _check(self, name: str):
        def check(res) -> bool:
            cols, rows = res
            return (sorted(cols), norm_rows(cols, rows)) == self.want[name]
        return check

    def ops(self, fault: bool = False) -> list[Op]:
        from clinpy_spark import queries as Q

        qs = Q.queries()
        out = [Op(name, lambda name=name: qs[name](self.spark, self.data_dir),
                  lambda df: (df.columns, df.collect()), self._check(name))
               for name in ANALYTICS_QUERIES]
        if fault:
            out[0].check = lambda res: False
        return out


WORKLOADS = {"cohort": Cohort, "analytics_batch": Analytics}
