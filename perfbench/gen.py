"""Seeded input generators for the benchmark.

Two families, both written from the seed alone:

* :func:`clinical` writes per-sample raw files in the shapes the ETL reads
  (RSEM genes and isoforms, STAR ``SJ.out.tab``, VEP-annotated VCF, sample
  metadata TSV) and returns the ground truth as pandas frames, so every
  assay answer can be checked without reading the program's own tables.
* :func:`star` writes the star-schema parquet tables the query registry
  reads (region ... embeddings), with the column types and value ranges
  of the reference fixtures.

Numbers are written with a fixed number of decimals and the truth holds
``float(text)`` of the same text, so parsed values compare exactly.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

CHROMS = ("chr1", "chr2", "chr3", "chr4")
COHORTS = ("cohortA", "cohortB", "cohortC")
CSQ_FIELDS = ("Consequence", "IMPACT", "SYMBOL", "Gene", "Feature", "BIOTYPE",
              "CANONICAL", "gnomAD_AF")
CONSEQUENCES = ("missense_variant", "synonymous_variant", "intron_variant",
                "stop_gained", "splice_region_variant", "downstream_gene_variant")
IMPACTS = ("HIGH", "MODERATE", "LOW", "MODIFIER")


@dataclass(frozen=True)
class ClinicalSize:
    """Input size of one generated sequencing cohort."""

    n_samples: int
    n_genes: int
    tx_per_gene: int
    n_junctions: int          # junction pool shared by all samples
    junctions_per_sample: int
    n_variants: int           # variant pool shared by all samples
    variants_per_sample: int


def _fmt(x: np.ndarray, decimals: int) -> list[str]:
    return [f"{v:.{decimals}f}" for v in x]


def clinical(root: str, seed: int, size: ClinicalSize) -> dict:
    """Write one cohort's raw files under ``root``; return paths and truth.

    Keeps the properties the ETL's joins depend on: junctions are drawn
    from a shared pool (so most are carried by several samples), a fifth
    of the pool are partial overlaps of another junction on the same
    chrom and strand, some rows are unstranded or low-read (dropped by the
    filtered pass), and every variant has 1-5 impact rows.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    names = [f"S{seed % 1000:03d}_{i:03d}" for i in range(size.n_samples)]

    samples = pd.DataFrame({
        "sample_id": names,
        # Round-robin then shuffled: cohort sizes do not depend on the seed.
        "cohort": rng.permutation([COHORTS[i % len(COHORTS)] for i in range(size.n_samples)]),
        "age": _fmt(rng.uniform(20, 80, size.n_samples), 1),
        "sex": rng.choice(["F", "M"], size.n_samples),
    })
    with open(os.path.join(root, "samples.tsv"), "w") as fh:
        fh.write("Sample_ID\tCohort\tage\tsex\n")
        for r in samples.itertuples(index=False):
            fh.write(f"{r.sample_id}\t{r.cohort}\t{r.age}\t{r.sex}\n")

    genes = [f"ENSG{i:08d}" for i in range(size.n_genes)]
    txs = [(f"ENST{g * size.tx_per_gene + t:08d}", genes[g])
           for g in range(size.n_genes) for t in range(size.tx_per_gene)]

    # Junction pool: base junctions plus partial overlaps of earlier ones.
    n_base = size.n_junctions - size.n_junctions // 5
    j_chrom = rng.integers(0, len(CHROMS), size.n_junctions)
    j_start = rng.integers(1_000, 2_000_000, size.n_junctions)
    j_len = rng.integers(80, 20_000, size.n_junctions)
    j_strand = rng.integers(1, 3, size.n_junctions)
    for k in range(n_base, size.n_junctions):
        src = int(rng.integers(0, n_base))
        j_chrom[k], j_strand[k] = j_chrom[src], j_strand[src]
        j_start[k] = j_start[src] + int(rng.integers(1, 40))
        j_len[k] = j_len[src] + int(rng.integers(-30, 30))
    pool_j = pd.DataFrame({
        "chrom": [CHROMS[c] for c in j_chrom], "start": j_start,
        "end": j_start + j_len, "code": j_strand,
    }).drop_duplicates(["chrom", "start", "end", "code"]).reset_index(drop=True)

    # Variant pool with 1-5 impact rows each (CSQ is per site, identical in
    # every sample's VCF).
    v_chrom = rng.integers(0, len(CHROMS), size.n_variants)
    v_pos = rng.integers(1_000, 2_000_000, size.n_variants)
    bases = np.array(list("ACGT"))
    v_ref = rng.integers(0, 4, size.n_variants)
    v_alt = (v_ref + rng.integers(1, 4, size.n_variants)) % 4
    pool_v = pd.DataFrame({
        "chrom": [CHROMS[c] for c in v_chrom], "pos": v_pos,
        "ref": bases[v_ref], "alt": bases[v_alt],
        "id": [f"rs{i}" if i % 3 else None for i in range(size.n_variants)],
    }).drop_duplicates(["chrom", "pos", "ref", "alt"]).reset_index(drop=True)
    impact_rows = []
    csq_text = []
    for vi in range(len(pool_v)):
        entries = []
        for k in range(int(rng.integers(1, 6))):
            g = int(rng.integers(0, size.n_genes))
            row = (
                CONSEQUENCES[int(rng.integers(0, len(CONSEQUENCES)))],
                IMPACTS[int(rng.integers(0, len(IMPACTS)))],
                f"GENE{g}", genes[g], f"ENST{g * size.tx_per_gene:08d}_{k}",
                "protein_coding", "YES" if k == 0 else "",
                f"{rng.uniform(0, 0.5):.4f}" if rng.random() < 0.7 else "",
            )
            entries.append(row)
            impact_rows.append((vi, *row))
        csq_text.append(",".join("|".join(e) for e in entries))
    impacts = pd.DataFrame(impact_rows, columns=["vi", *[f.lower() for f in CSQ_FIELDS]])

    vcf_header = (
        "##fileformat=VCFv4.2\n"
        '##INFO=<ID=CSQ,Number=.,Type=String,Description="Consequence annotations '
        f'from Ensembl VEP. Format: {"|".join(CSQ_FIELDS)}">\n'
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">\n'
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Read depth">\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tSAMPLE\n"
    )

    gene_rows, tx_rows, sj_rows, call_rows = [], [], [], []
    files = {}
    for s in names:
        gp = os.path.join(root, f"{s}.genes.results")
        ip = os.path.join(root, f"{s}.isoforms.results")
        sp = os.path.join(root, f"{s}.SJ.out.tab")
        vp = os.path.join(root, f"{s}.vcf")
        files[s] = {"genes": gp, "isoforms": ip, "sj": sp, "vcf": vp}

        cnt = _fmt(rng.gamma(1.2, 300.0, size.n_genes), 2)
        tpm = _fmt(rng.gamma(1.0, 40.0, size.n_genes), 2)
        fpkm = _fmt(rng.gamma(1.0, 30.0, size.n_genes), 2)
        with open(gp, "w") as fh:
            fh.write("gene_id\ttranscript_id(s)\tlength\teffective_length\t"
                     "expected_count\tTPM\tFPKM\n")
            for g, c, t, f in zip(genes, cnt, tpm, fpkm):
                fh.write(f"{g}\t{g}.t\t1500\t1350.00\t{c}\t{t}\t{f}\n")
                gene_rows.append((s, g, float(c), float(t), float(f)))
        n_tx = len(txs)
        tcnt = _fmt(rng.gamma(1.2, 150.0, n_tx), 2)
        ttpm = _fmt(rng.gamma(1.0, 20.0, n_tx), 2)
        tfpkm = _fmt(rng.gamma(1.0, 15.0, n_tx), 2)
        tpct = _fmt(rng.uniform(0, 100, n_tx), 2)
        with open(ip, "w") as fh:
            fh.write("transcript_id\tgene_id\tlength\teffective_length\t"
                     "expected_count\tTPM\tFPKM\tIsoPct\n")
            for (t, g), c, tp, f, p in zip(txs, tcnt, ttpm, tfpkm, tpct):
                fh.write(f"{t}\t{g}\t900\t750.00\t{c}\t{tp}\t{f}\t{p}\n")
                tx_rows.append((s, t, float(c), float(tp), float(f), float(p)))

        pick = np.sort(rng.choice(len(pool_j), size.junctions_per_sample, replace=False))
        uniq = rng.integers(0, 40, len(pick))
        multi = rng.integers(0, 6, len(pick))
        # One row in 20 is unstranded (code 0): kept unfiltered, dropped filtered.
        code = np.where(rng.random(len(pick)) < 0.05, 0, pool_j.code.values[pick])
        with open(sp, "w") as fh:
            for k, u, m, c in zip(pick, uniq, multi, code):
                j = pool_j.iloc[k]
                fh.write(f"{j.chrom}\t{j.start}\t{j.end}\t{c}\t1\t0\t{u}\t{m}\t30\n")
                sj_rows.append((s, j.chrom, int(j.start), int(j.end),
                                {0: ".", 1: "+", 2: "-"}[int(c)], int(u), int(m)))

        vpick = np.sort(rng.choice(len(pool_v), size.variants_per_sample, replace=False))
        quals = _fmt(rng.uniform(5, 99, len(vpick)), 1)
        gts = np.where(rng.random(len(vpick)) < 0.3, "1/1", "0/1")
        dps = rng.integers(5, 80, len(vpick))
        filt = np.where(rng.random(len(vpick)) < 0.1, "q10", "PASS")
        body = []
        for k, q, gt, dp, fl in zip(vpick, quals, gts, dps, filt):
            v = pool_v.iloc[k]
            body.append((v.chrom, int(v.pos), v.id or ".", v.ref, v.alt, q, fl,
                         f"CSQ={csq_text[k]}", f"{gt}:{dp}"))
            call_rows.append((s, int(k), float(q), fl, f"({gt[0]}, {gt[2]})", str(dp)))
        body.sort(key=lambda r: (r[0], r[1]))
        with open(vp, "w") as fh:
            fh.write(vcf_header)
            for r in body:
                fh.write("\t".join([r[0], str(r[1]), *r[2:7], r[7], "GT:DP", r[8]]) + "\n")

    calls = pd.DataFrame(call_rows, columns=["samplename", "vi", "qual", "filter", "gt", "dp"])
    calls = calls.join(pool_v, on="vi")
    return {
        "samples": samples,
        "files": files,
        "names": names,
        "gene_expression": pd.DataFrame(
            gene_rows, columns=["samplename", "gene", "expected_count", "tpm", "fpkm"]),
        "transcript_expression": pd.DataFrame(
            tx_rows, columns=["samplename", "transcript", "expected_count", "tpm",
                              "fpkm", "isopct"]),
        "sj": pd.DataFrame(sj_rows, columns=["samplename", "chrom", "start", "end",
                                             "strand", "uniq_map", "multi_map"]),
        "calls": calls,
        "variants": pool_v,
        "impacts": impacts,
        "genes": genes,
    }


def project_config(data: dict, samples_tsv: str) -> dict:
    """``create_project`` config loading every generated sample; the
    filtered junction pass keeps rows with ``uniq_map >= 3``."""
    f, names = data["files"], data["names"]
    return {
        "samples": samples_tsv,
        "rna": {
            "expression": [(s, f[s]["genes"], f[s]["isoforms"]) for s in names],
            "junctions": [(s, f[s]["sj"]) for s in names],
            "min_unique_reads": 3,
        },
        "snps": {"variants": [(s, f[s]["vcf"]) for s in names]},
    }


# -- star schema -------------------------------------------------------------

_VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
          "key line merge order part query row scan slow small sort spark stream "
          "table the value vector window").split()
_PART_ADJ = ("blue", "hot", "small", "old", "red", "new", "cold", "large")
_PART_NOUN = ("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo")


def star(root: str, seed: int, sf: float, n_docs: int = 500, n_vecs: int = 500) -> None:
    """Write the ten star-schema tables at scale factor ``sf`` under
    ``root`` as ``<table>.parquet``. Row counts follow the reference
    fixtures: 1,500,000 x sf orders with 1-7 lines each, 150,000 x sf
    customers, and fixed-size documents and embeddings corpora."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)

    def _write(name: str, cols: dict, schema: list[tuple[str, pa.DataType]]) -> None:
        table = pa.table({k: pa.array(cols[k], type=t) for k, t in schema})
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))

    def _money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    _write("region", {"r_regionkey": np.arange(5),
                      "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           [("r_regionkey", i32), ("r_name", s)])
    _write("nation", {"n_nationkey": np.arange(25),
                      "n_name": [f"NATION_{i}" for i in range(25)],
                      "n_regionkey": np.arange(25) % 5},
           [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)])

    n_cust = max(int(150_000 * sf), 10)
    segs = np.array(["HOUSEHOLD", "BUILDING", "FURNITURE", "MACHINERY", "AUTOMOBILE"])
    _write("customer", {
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust),
        "c_acctbal": _money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }, [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64),
        ("c_mktsegment", s)])

    n_supp = max(int(10_000 * sf), 5)
    _write("supplier", {
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp),
        "s_acctbal": _money(-999.99, 9999.99, n_supp),
    }, [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)])

    n_part = max(int(200_000 * sf), 20)
    types = np.array(["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"])
    price = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write("part", {
        "p_partkey": np.arange(n_part),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part),
        "p_retailprice": price,
    }, [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
        ("p_size", i32), ("p_retailprice", f64)])

    n_ord = max(int(1_500_000 * sf), 100)
    day = np.datetime64("1995-01-01", "D")
    span = int((np.datetime64("2001-08-01", "D") - day).astype(int))
    odate = day + rng.integers(0, span + 1, n_ord).astype("timedelta64[D]")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write("orders", {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(1000.0, 500_000.0, n_ord),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    }, [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
        ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)])

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    perm = rng.permutation(n_li)
    _write("lineitem", {
        "l_orderkey": okey[perm], "l_partkey": pkey[perm],
        "l_suppkey": rng.integers(0, n_supp, n_li), "l_linenumber": lnum[perm],
        "l_quantity": qty[perm],
        "l_extendedprice": np.round(qty * price[pkey], 2)[perm],
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": (np.repeat(odate, lines)[perm]
                       + rng.integers(1, 96, n_li).astype("timedelta64[D]")
                       ).astype("datetime64[us]"),
    }, [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
        ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
        ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s), ("l_linestatus", s),
        ("l_shipdate", ts)])

    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ev_ts = t0 + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write("events", {
        "event_id": np.arange(n_ev),
        "ts": ev_ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(["click", "signup", "error", "view", "purchase"])[
            rng.integers(0, 5, n_ev)],
        "value": _money(0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
        ("value", f64), ("props", s)])

    # Documents: bag-of-words texts; one in ten is a light edit of an
    # earlier one, so the near-duplicate operators have pairs to find.
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for d in range(n_docs):
        if d >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, d))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    langs = np.array(["en"] * 4 + ["fr", "es", "zh", "de"])
    _write("documents", {
        "doc_id": np.arange(n_docs), "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{d % 20}" for d in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }, [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)])

    vec = rng.standard_normal((n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write("embeddings", {
        "vec_id": np.arange(n_vecs), "embedding": list(vec),
        "label": rng.integers(0, 10, n_vecs),
    }, [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)])
