"""VCF reader: distributed text scan + column-expression parse.

The reference iterates a pysam ``VariantFile`` row-by-row on the driver
(snp_functions.py:81-131): CHROM/POS/ID/REF/ALT/QUAL/FILTER, the first
sample's FORMAT values, and the VEP ``CSQ`` INFO field split on ``|``
per transcript consequence, exploded to one row per consequence.

Spark-first shape: ``spark.read.text`` -> filter header lines ->
``split``/``regexp_extract`` column ops, CSQ as ArrayType -> ``explode``
(A9/A10). Everything stays in whole-stage codegen; at 100 TB the VCF
lines parse in parallel across executors (no pysam, no driver loop).
Header introspection (S6) reads only the header lines driver-side,
matching the reference's per-file metadata pass (snp_functions.py:11-52).

CSQ type coercion (reference snp_functions.py:55-78 ``coerce`` driven by
vcf.yaml ``variant_impacts: {af: {type: float}, ...}``): each consequence
field is cast per the config type — '' -> NULL (type-independent), str
as-is, int/float SQL casts, bool -> TRUE iff present (``bool(non-empty)``
is always True in the reference, e.g. VEP CANONICAL="YES").
"""

from __future__ import annotations

import gzip

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: vcf.yaml type names -> Spark SQL types (reference coerce(),
#: snp_functions.py:66-77).
_SQL_TYPE = {"str": "string", "int": "int", "float": "double", "bool": "boolean"}

#: Default CSQ field typing, mirroring the non-str entries of the
#: reference's shipped vcf.yaml (distance int :66-67, canonical bool
#: :84-85, every *_af float :129-208). Fields absent here parse as str.
DEFAULT_CSQ_TYPES: dict[str, str] = {
    "distance": "int",
    "canonical": "bool",
    **{
        f: "float"
        for f in (
            "af", "afr_af", "amr_af", "eas_af", "eur_af", "sas_af",
            "aa_af", "ea_af", "exac_af", "exac_adj_af", "exac_afr_af",
            "exac_amr_af", "exac_eas_af", "exac_fin_af", "exac_nfe_af",
            "exac_oth_af", "exac_sas_af", "gnomad_af", "gnomad_afr_af",
            "gnomad_amr_af", "gnomad_asj_af", "gnomad_eas_af",
            "gnomad_fin_af", "gnomad_nfe_af", "gnomad_oth_af",
            "gnomad_sas_af", "max_af",
        )
    },
}


def normalize_type_dict(type_dict: dict | None) -> dict[str, str] | None:
    """Accept either ``{field: "float"}`` or the vcf.yaml shape
    ``{field: {"type": "float", "index": ...}}`` and return the flat
    lowercase form. ``None`` passes through (= keep all fields as str).
    """
    if type_dict is None:
        return None
    out = {}
    for k, v in type_dict.items():
        t = v["type"] if isinstance(v, dict) else v
        if t not in _SQL_TYPE:
            raise ValueError(f"unknown CSQ type {t!r} for field {k!r}")
        out[k.lower()] = t
    return out


def indexed_fields(type_dict: dict | None) -> list[str]:
    """Fields flagged ``index: true`` in the vcf.yaml shape, config
    order, lowercased. The reference turns these into SQLite secondary
    indexes (vcf.yaml:14-44 "more index means larger database and slower
    build"); the Spark analogue is the impacts table's sort-on-write
    order, which clusters values so parquet row-group min/max stats
    prune index-field filters at scan time."""
    if not type_dict:
        return []
    return [k.lower() for k, v in type_dict.items()
            if isinstance(v, dict) and v.get("index")]


def coerce_csq(col: Column, type_name: str) -> Column:
    """One CSQ value coerced per the config type (reference
    snp_functions.py:62-77): '' -> NULL handled upstream; bool -> TRUE
    iff a value is present (``bool(non-empty str)``)."""
    if type_name == "bool":
        return F.when(col.isNull(), F.lit(None).cast("boolean")).otherwise(F.lit(True))
    return col.cast(_SQL_TYPE[type_name])


def csq_struct(entry: Column, fields: list[str], types: dict[str, str] | None) -> Column:
    """One pipe-packed CSQ entry ("a|b|c") -> typed struct: positional
    split per ``fields``, '' -> NULL, then per-field coercion. The parse
    core of :func:`read_vcf`, reusable over any string column. The
    field names are literals (``named_struct``), so they hold in a
    projection that also carries a generator, where aliases inside an
    expression are dropped."""
    out_fields = [f for f in fields if types is None or f in types]

    def _one(i, name):
        raw = F.split(entry, r"\|").getItem(i)
        base = F.when(raw == "", None).otherwise(raw)
        if types is not None:
            base = coerce_csq(base, types[name])
        return F.lit(name), base

    return F.named_struct(*[
        part for i, name in enumerate(fields) if name in out_fields
        for part in _one(i, name)
    ])


def gt_alleles_expr(gt: Column) -> Column:
    """Raw genotype string ("0/1", "1|2", "./.") -> ``array<int>`` with
    missing alleles as NULL elements (SURVEY P8 structural form)."""
    parts = F.split(gt, r"[/|]")
    return F.when(gt.isNull(), F.lit(None).cast("array<int>")).otherwise(
        F.transform(parts, lambda a: a.try_cast("int"))
    )


def gt_phased_expr(gt: Column) -> Column:
    """True iff the genotype separator is '|' (phased)."""
    return F.when(gt.isNull(), F.lit(None).cast("boolean")).otherwise(gt.contains("|"))


def gt_tuple_expr(gt: Column) -> Column:
    """"0/1" or "0|1" -> "(0, 1)" — the reference's stringified tuple
    form (snp_functions.py:103-105)."""
    parts = F.split(gt, r"[/|]")
    return F.when(gt.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("("), F.concat_ws(", ", parts), F.lit(")"))
    )


def gt_tuple_from_alleles(alleles: Column) -> Column:
    """``array<int>`` allele form back to the stringified tuple (missing
    alleles render as '.')."""
    return F.when(alleles.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat(
            F.lit("("),
            F.concat_ws(
                ", ", F.transform(alleles, lambda a: F.coalesce(a.cast("string"), F.lit(".")))
            ),
            F.lit(")"),
        )
    )


def _header_lines(path: str, max_lines: int = 5000) -> list[str]:
    opener = gzip.open if path.endswith(".gz") else open
    out = []
    with opener(path, "rt") as fh:
        for line in fh:
            if not line.startswith("#"):
                break
            out.append(line.rstrip("\n"))
            if len(out) >= max_lines:
                break
    return out


def vcf_csq_fields(path: str) -> list[str]:
    """CSQ field names from the ``##INFO=<ID=CSQ...Format: a|b|c">``
    header line, lowercased (reference snp_functions.py:26-33, 50-51)."""
    for line in _header_lines(path):
        if line.startswith("##INFO=<ID=CSQ"):
            fmt = line.split("Format: ")[-1].rstrip('">')
            return [f.lower() for f in fmt.split("|")]
    return []


def vcf_format_keys(path: str) -> list[str]:
    """FORMAT keys declared in the header, lowercased (reference
    snp_functions.py:35-43)."""
    keys = []
    for line in _header_lines(path):
        if line.startswith("##FORMAT=<ID="):
            keys.append(line.split("##FORMAT=<ID=")[1].split(",")[0].lower())
    return keys


def read_vcf(
    spark: SparkSession,
    path: str,
    samplename: str,
    csq_fields: list[str] | None = None,
    format_keys: list[str] | None = None,
    explode_csq: bool = True,
    type_dict: dict | None = None,
    split_multiallelic: bool = False,
) -> DataFrame:
    """-> one row per variant (or per consequence when ``explode_csq``):
    (samplename, chrom, pos, id, ref, alt, qual, filter, <format keys>,
    gt_alleles, gt_phased, csq struct fields...).

    Genotype is kept raw (``gt`` as the reference's stringified tuple
    form ``"(0, 1)"``, snp_functions.py:103-105) AND structurally:
    ``gt_alleles array<int>`` (missing alleles '.' -> NULL elements) plus
    ``gt_phased`` — SURVEY P8's note that structural filters
    (multi-allelic, phased) need more than the string form.

    ``type_dict`` (flat or vcf.yaml shape, see :func:`normalize_type_dict`)
    coerces CSQ columns per config and — matching the reference's
    ``coerce`` which drops fields absent from the config
    (snp_functions.py:63-65) — restricts the CSQ output to the configured
    fields. ``None`` keeps every header field as a string.

    Sites-only VCFs (no FORMAT/sample columns) parse with NULL format
    values; FORMAT value lists shorter than the key list (spec-legal
    trailing drop) are NULL-padded instead of erroring.

    ``split_multiallelic=True`` goes beyond the reference (which keeps
    only ``var.alts[0]``, snp_functions.py:101): ALT "G,T" explodes to
    one row per alt allele with 1-based ``allele_idx``, and the
    genotype renormalizes per row bcftools-norm style (alleles matching
    this alt -> 1, any other -> 0, missing stays NULL) in both the
    array and tuple-string forms. CSQ rows replicate across the split
    (VEP's per-allele matching is annotation-side, documented caveat).
    """
    csq_fields = csq_fields if csq_fields is not None else vcf_csq_fields(path)
    format_keys = format_keys if format_keys is not None else vcf_format_keys(path)
    types = normalize_type_dict(type_dict)

    # Output columns by name; assigning a name again replaces the column
    # in place, so the order is that of a withColumn chain. At most three
    # projections: the parse (with the allele explode when splitting),
    # the per-allele rewrite plus the CSQ explode, and the CSQ expansion.
    lines = spark.read.text(path).filter(~F.col("value").startswith("#"))
    c = F.split("value", "\t")
    cols = {
        "samplename": F.lit(samplename),
        "chrom": c.getItem(0),
        "pos": c.getItem(1).cast("long"),
        "id": F.when(c.getItem(2) == ".", None).otherwise(c.getItem(2)),
        "ref": c.getItem(3),
        "alt": c.getItem(4),
        "qual": F.when(c.getItem(5) == ".", None).otherwise(c.getItem(5)).cast("double"),
        "filter": c.getItem(6),
    }
    # F.get: NULL (not ANSI error) when the column is absent — sites-only
    # VCFs have no FORMAT/sample columns.
    info, fmt, sample0 = F.get(c, 7), F.get(c, 8), F.get(c, 9)

    # FORMAT: map keys to the first sample's values (snp_functions.py:98-105).
    # Values are positionally padded to the key count — the VCF spec allows
    # trailing FORMAT fields to be dropped per-sample, and map_from_arrays
    # errors on ragged arrays.
    keys_arr = F.split(fmt, ":")
    vals_arr = F.split(sample0, ":")
    fmt_map = F.map_from_arrays(
        keys_arr, F.transform(keys_arr, lambda _, i: F.get(vals_arr, i))
    )
    for key in format_keys:
        cols[key] = fmt_map.getItem(key.upper())
    has_gt = "gt" in format_keys
    if has_gt:
        gt = cols["gt"]
        cols["gt_alleles"] = gt_alleles_expr(gt)
        cols["gt_phased"] = gt_phased_expr(gt)
        cols["gt"] = gt_tuple_expr(gt)
    if split_multiallelic:
        cols["allele_idx"] = F.explode(
            F.sequence(F.lit(1), F.size(F.split(cols["alt"], ","))))
    if csq_fields:
        # CSQ=a|b|c,a2|b2|c2 -> array of typed structs -> explode (A9/A10).
        csq_str = F.regexp_extract(info, r"(?:^|;)CSQ=([^;]*)", 1)
        one = F.transform(
            F.split(csq_str, ","),
            lambda entry: csq_struct(entry, csq_fields, types),
        )
        cols["csq"] = F.when(csq_str == "", F.array()).otherwise(one)
    df = lines.select(*[col.alias(name) for name, col in cols.items()])

    cols = {name: F.col(name) for name in df.columns}
    if split_multiallelic:
        cols["alt"] = F.element_at(F.split("alt", ","), F.col("allele_idx"))
        if has_gt:
            renorm = F.transform(
                "gt_alleles",
                lambda a: F.when(a.isNull(), F.lit(None).cast("int"))
                .when(a == F.col("allele_idx"), 1)
                .otherwise(0),
            )
            cols["gt_alleles"] = renorm
            cols["gt"] = gt_tuple_from_alleles(renorm)
    explode = bool(csq_fields) and explode_csq
    if explode:
        cols["csq"] = F.explode_outer("csq")
    if split_multiallelic or explode:
        df = df.select(*[col.alias(name) for name, col in cols.items()])
    if explode:
        df = df.select(*[n for n in df.columns if n != "csq"], "csq.*")
    return df
