"""Project-creation ETL (reference scripts/create_project.py §3.1).

Spark-first reshape (SURVEY.md §3.1): the reference's per-sample loop ->
temp table -> DISTINCT -> anti-join -> id-resolution-join dance becomes:
read all samples as one union (executors parse files in parallel),
``dropDuplicates`` on the natural key, compute the deterministic hash id
directly (no resolution join at all — the join the reference flags as
"TODO this is very slow", snp_functions.py:265, does not exist here),
and ``left_anti`` against the master only for incremental appends (J6).

Shuffle budget per modality: exactly one (the dedup); bridge writes are
shuffle-free projections.

Concurrency: the tables of a project share no state, so their writes
run at once (:func:`_concurrently`). ``create_project`` runs each step
(samples, gene and transcript expression, each junction pass, each
variant family) on its own thread, plan construction included, and
``ingest_junctions`` / ``ingest_variants`` run their own table writes
the same way. Every thread inherits the caller's job group and local
properties and labels its jobs ``create_project: <table>``; Spark's
``local[N]`` slots still bound the running tasks. A call returns or
raises only after every write it started has finished; a failure is
re-raised once all of them are done (the first in step order when
several fail), and the tables the other steps wrote stay written.
Readers build no job of their own: TSV headers and VCF headers are read
on the driver.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinpy_spark.functions.ids import junction_id, variant_id
from clinpy_spark.session import ProjectCatalog
from clinpy_spark.sources.rsem import read_rsem_genes, read_rsem_isoforms
from clinpy_spark.sources.star_sj import read_star_sj
from clinpy_spark.sources.tsv import read_tsv
from clinpy_spark.sources.vcf import (
    _SQL_TYPE,
    indexed_fields,
    normalize_type_dict,
    read_vcf,
    vcf_csq_fields,
    vcf_format_keys,
)


def _concurrently(spark: SparkSession,
                  steps: dict[str, Callable[[], object]]) -> None:
    """Run every step on its own thread and wait for all of them, then
    re-raise the first failure in ``steps`` order. Each thread inherits
    the caller's job group and local properties and sets its own job
    description ``create_project: <key>``, so the caller's are left
    alone."""
    def run(table: str, fn: Callable[[], object]) -> None:
        spark.sparkContext.setJobDescription(f"create_project: {table}")
        fn()

    # One wrapper per step: each clones the caller's local properties,
    # so one thread's job description never reaches another's.
    with ThreadPoolExecutor(max_workers=len(steps),
                            thread_name_prefix="create_project") as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(run), table, fn)
                   for table, fn in steps.items()]
    for f in futures:
        f.result()


def _union_per_sample(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _write_new(
    catalog: ProjectCatalog,
    df: DataFrame,
    table: str,
    key: list[str],
    incremental: bool,
    *,
    sort_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    bucket_col: str | None = None,
    buckets: int | None = None,
) -> None:
    """Write ``df`` as ``table``. An incremental run against an existing
    table first drops the rows whose ``key`` is already loaded (the
    reference's primary-key guards as anti-joins, J6) and appends the
    rest; otherwise the table is overwritten. ``buckets`` hash-buckets
    the table on ``bucket_col``, sorted by ``sort_cols`` or else by the
    bucket column; unbucketed tables are sorted within partitions by
    ``sort_cols`` when given."""
    mode = "overwrite"
    if incremental and catalog.exists(table):
        # Materialize before the append: the anti-join reads the same
        # directory the write targets.
        df = df.join(catalog.table(table).select(*key), key,
                     "left_anti").localCheckpoint(eager=True)
        mode = "append"
    if buckets:
        catalog.write_bucketed(df, table, [bucket_col], buckets,
                               sort_cols=sort_cols or [bucket_col],
                               mode=mode, partition_by=partition_by)
    else:
        if sort_cols:
            df = df.sortWithinPartitions(*sort_cols)
        catalog.write(df, table, mode=mode, partition_by=partition_by)


def load_samples(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """Sample-metadata TSV -> samples table (create_project.py:50-66:
    lowercase headers, mandatory sample_id/cohort, projection)."""
    df = read_tsv(spark, path)
    df = df.toDF(*[c.lower() for c in df.columns])
    for required in ("sample_id", "cohort"):
        if required not in df.columns:
            raise ValueError(f"samples file missing mandatory column {required!r}")
    if columns:
        keep = ["sample_id", "cohort"] + [
            c.lower() for c in columns if c.lower() not in ("sample_id", "cohort")
        ]
        df = df.select(*keep)
    # user_annot is a real map<string,string> (SURVEY §1.5); a TSV-borne
    # column arrives as a JSON string and is parsed into the map.
    if "user_annot" in df.columns:
        df = df.withColumn("user_annot", F.from_json("user_annot", "map<string,string>"))
    else:
        df = df.withColumn("user_annot", F.lit(None).cast("map<string,string>"))
    return df


def ingest_expression(spark: SparkSession, manifest: list[tuple[str, str]],
                      what: str = "gene") -> DataFrame:
    """(samplename, path) pairs -> one long expression table
    (create_project.py:103-141 loop -> single union job)."""
    reader = read_rsem_genes if what == "gene" else read_rsem_isoforms
    return _union_per_sample([reader(spark, p, s) for s, p in manifest])


def ingest_junctions(
    spark: SparkSession,
    catalog: ProjectCatalog,
    manifest: list[tuple[str, str]],
    min_unique_reads: int = 0,
    filtered: bool = False,
    incremental: bool = False,
    bucket_by_fk: int | None = None,
) -> None:
    """STAR SJ files -> junction master + bridge tables
    (rna_functions.py:30-104 reshaped; 'filtered' applies the QC gate
    P7 at ingest like the reference's filtered pass).

    ``bucket_by_fk=N`` writes master and bridge hash-bucketed (N
    buckets) on the join key (master.id / bridge.junction), so every
    master ⋈ bridge query runs shuffle-free — the standing co-location
    for the hottest join in the domain API. The master keeps its chrom
    directory partitions and start-sorted files either way."""
    junc_t = "junctions" if filtered else "all_junctions"
    bridge_t = "sample_to_junction" if filtered else "sample_to_alljunction"
    natural = ["chrom", "start", "end", "strand"]

    per_sample = _union_per_sample([
        read_star_sj(spark, p, s,
                     min_unique_reads=min_unique_reads if filtered else 0,
                     filter_unstranded=filtered)
        for s, p in manifest
    ])

    master_new = (
        per_sample.select(*natural).dropDuplicates(natural)  # A4
        .withColumn("id", junction_id())                      # A12: no resolution join
        .select("id", *natural)
    )
    bridge = per_sample.select(
        "samplename", junction_id().alias("junction"), "uniq_map", "multi_map"
    )
    _concurrently(spark, {
        # Physical layout (SURVEY §1.5: partitioning replaces the
        # reference's secondary indexes, rna_tables.py:28-29):
        # directory-partition by chrom so chrom-filtered queries prune
        # whole directories, and sort each partition by start so parquet
        # row-group min/max stats prune within.
        junc_t: partial(_write_new, catalog, master_new, junc_t, natural,
                        incremental, sort_cols=["start"],
                        partition_by=["chrom"], bucket_col="id",
                        buckets=bucket_by_fk),
        # Composite-PK guard (rna_tables.py:26-31): already-loaded
        # (samplename, junction) pairs are skipped, not doubled — a
        # re-ingested sample contributes only its genuinely new rows.
        bridge_t: partial(_write_new, catalog, bridge, bridge_t,
                          ["samplename", "junction"], incremental,
                          bucket_col="junction", buckets=bucket_by_fk),
    })


def reconcile_fields(per_file: list[list[str]], not_same: str = "error") -> list[str]:
    """Reconcile per-file header field lists (reference
    ``compare_fields``, snp_functions.py:11-52; vcf.yaml:6 ``not_same``):
    ``error`` raises unless identical, ``union``/``intersection`` merge —
    first-file order preserved, union appends new fields in file order.
    """
    if not per_file:
        return []
    distinct = {tuple(f) for f in per_file}
    if len(distinct) == 1:
        return list(per_file[0])
    if not_same == "error":
        raise ValueError("the descriptions of fields or formats are not the same in all files")
    if not_same == "union":
        out = list(per_file[0])
        for fields in per_file[1:]:
            out.extend(f for f in fields if f not in out)
        return out
    if not_same == "intersection":
        common = set(per_file[0]).intersection(*map(set, per_file[1:]))
        return [f for f in per_file[0] if f in common]
    raise NotImplementedError("not_same field can only be 'error', 'union' or 'intersection'")


def ingest_variants(
    spark: SparkSession,
    catalog: ProjectCatalog,
    manifest: list[tuple[str, str]],
    rna: bool = False,
    filtered: bool = False,
    incremental: bool = False,
    not_same: str = "error",
    missing_impact: str = "ignore",
    type_dict: dict | None = None,
    pass_only: bool = False,
    min_qual: float | None = None,
    split_multiallelic: bool = False,
    bucket_by_fk: int | None = None,
) -> None:
    """VCFs -> variants master + impacts + sample_variants mapping
    (snp_functions.py:189-295 reshaped: CSQ explode at parse, hash
    variant ids, anti-join only for incremental; fixes the broken
    `is None` anti-join and the double-impacts join, SURVEY.md §8).

    ``not_same`` reconciles CSQ/FORMAT header sets across files
    (vcf.yaml:6, error|union|intersection); ``missing_impact``
    (vcf.yaml:9, ignore|error) governs per-file header fields outside
    the reconciled set — union-mode gaps null-fill. ``type_dict``
    (vcf.yaml ``variant_impacts``) types the impact columns.
    ``pass_only``/``min_qual`` are the QC gate for the ``filtered_``
    table families (reference feeds pre-filtered VCFs; here the gate is
    explicit, mirroring the junctions' min_unique_reads pass).

    ``bucket_by_fk=N`` hash-buckets master, mapping AND impacts on
    ``variant_id`` (N buckets): the whole J3 chain
    (variants ⋈ impacts ⋈ mapping) then joins shuffle-free.
    """
    prefix = ("filtered_" if filtered else "") + ("rna_" if rna else "")
    var_t, imp_t, map_t = f"{prefix}variants", f"{prefix}variant_impacts", f"{prefix}sample_variants"
    natural = ["chrom", "pos", "ref", "alt"]
    types = normalize_type_dict(type_dict)
    if missing_impact not in ("ignore", "error"):
        raise ValueError("missing_impact must be 'ignore' or 'error'")

    # Header reconciliation driver-side (S6, snp_functions.py:11-52).
    per_file_csq = [vcf_csq_fields(p) for _, p in manifest]
    csq_fields = reconcile_fields(per_file_csq, not_same)
    format_keys = reconcile_fields([vcf_format_keys(p) for _, p in manifest], not_same)
    if missing_impact == "error":
        for (_, p), fields in zip(manifest, per_file_csq):
            extra = [f for f in fields if f not in csq_fields]
            if extra:
                raise ValueError(f"{extra} is not defined in the vcf config ({p})")
    # Output impact columns: reconciled order, restricted to the config
    # when typed (reference coerce drops unconfigured fields).
    out_csq = [f for f in csq_fields if types is None or f in types]

    def _one_file(s: str, p: str) -> DataFrame:
        # Parse with the FILE'S OWN header order (CSQ split is positional),
        # then align to the reconciled set: union-mode gaps become typed
        # NULL columns (the reference's pandas concat null-fill).
        own = per_file_csq[[q for _, q in manifest].index(p)]
        own_kept = [f for f in own if f in csq_fields]
        df = read_vcf(spark, p, s, csq_fields=own, format_keys=format_keys,
                      type_dict=types, split_multiallelic=split_multiallelic)
        extra = [f for f in own if f not in csq_fields and (types is None or f in types)]
        if extra:
            df = df.drop(*extra)
        for f in out_csq:
            if f not in own_kept:
                sql_t = _SQL_TYPE[types[f]] if types else "string"
                df = df.withColumn(f, F.lit(None).cast(sql_t))
        return df

    parsed = _union_per_sample([_one_file(s, p) for s, p in manifest])
    if pass_only:
        parsed = parsed.filter(F.col("filter") == "PASS")
    if min_qual is not None:
        parsed = parsed.filter(F.col("qual") >= F.lit(float(min_qual)))

    master_new = (
        parsed.select("chrom", "pos", "id", "ref", "alt").dropDuplicates(natural)
        .withColumn("variant_id", variant_id())
        .select("variant_id", "chrom", "pos", "id", "ref", "alt")
    )
    with_id = parsed.withColumn("variant_id", variant_id())
    gt_cols = ["gt_alleles", "gt_phased"] if "gt" in format_keys else []
    mapping = with_id.select(
        "variant_id", "samplename", "qual", "filter", *format_keys, *gt_cols
    ).dropDuplicates(["variant_id", "samplename"])
    writes = {
        # Same layout story as junctions: chrom directory partitions
        # (replaces the chrom/pos indexes of snp_tables.py:8-9,17-18) +
        # pos-sorted row groups for min/max pruning on region queries (P6).
        var_t: partial(_write_new, catalog, master_new, var_t, natural,
                       incremental, sort_cols=["pos"], partition_by=["chrom"],
                       bucket_col="variant_id", buckets=bucket_by_fk),
        # Composite-PK guard (snp_functions.py:171-186): already-loaded
        # (variant_id, samplename) pairs are skipped.
        map_t: partial(_write_new, catalog, mapping, map_t,
                       ["variant_id", "samplename"], incremental,
                       bucket_col="variant_id", buckets=bucket_by_fk),
    }

    if out_csq:
        # Impacts carry chrom as a LAYOUT column (functionally dependent
        # on variant_id): chrom directory partitions + a sort-on-write by
        # the config's index-flagged fields give impact scans the same
        # pruning story as the master — the Spark analogue of the
        # reference's per-field `index:` flags (vcf.yaml:14-44), which it
        # turns into SQLite secondary indexes on variant_impacts.
        sort_cols = [f for f in indexed_fields(type_dict) if f in out_csq]
        if "chrom" in out_csq or "variant_id" in out_csq:
            # chrom is the impacts table's layout column and variant_id
            # its fk; a vcf.yaml CSQ field of either name (lowercased by
            # normalize_type_dict) would silently collide with them.
            raise ValueError(
                "vcf.yaml CSQ fields may not be named 'chrom' or "
                "'variant_id' (reserved by the impacts table layout) — "
                "rename the field in the config"
            )
        impacts = with_id.select("variant_id", "chrom", *out_csq).dropDuplicates()
        # Anti-join guard mirroring the mapping table's: impacts of
        # already-loaded variants are skipped, not doubled — without
        # this every incremental run re-appends impact rows for every
        # parsed variant and select(impacts=True) joins fan out.
        writes[imp_t] = partial(_write_new, catalog, impacts, imp_t,
                                ["variant_id"], incremental,
                                sort_cols=sort_cols, partition_by=["chrom"],
                                bucket_col="variant_id", buckets=bucket_by_fk)
    _concurrently(spark, writes)


def create_project(spark: SparkSession, project_dir: str, config: dict | str) -> ProjectCatalog:
    """Build a project directory of Parquet tables from a config dict or a
    YAML file path (reference `create_project.py -y config.yaml`,
    create_project.py:18-303).

    config keys:
      samples: path to sample-metadata TSV (mandatory)
      rna:  {expression: [(sample, genes_path, isoforms_path)],
             junctions: [(sample, sj_path)], min_unique_reads: int}
      snps: {variants|rna_variants|filtered_variants|filtered_rna_variants:
               [(sample, vcf_path)],
             filter: {pass_only: bool, min_qual: float},   # derive filtered_*
             vcf: {not_same, missing_impact, variant_impacts}}  # vcf.yaml
      layout: {bucket_by_fk: int}  # hash-bucket masters/bridges/impacts
               on the join key (N buckets) so fk joins run shuffle-free
      incremental: bool (reference `create: false`)

    Incremental runs re-apply the reference's primary-key duplicate
    guards (samples PK readme.md:47-49; expression PK (samplename, gene)
    rna_tables.py:42-48) as anti-joins: already-loaded samples and
    already-loaded expression samplenames are skipped, not duplicated.

    The steps run concurrently (module docstring): a failing step's
    error is raised after every other step has finished.
    """
    if isinstance(config, str):
        import yaml

        with open(config) as fh:
            config = yaml.safe_load(fh)
    catalog = ProjectCatalog(spark, project_dir)
    incremental = bool(config.get("incremental"))
    bucket_by_fk = (config.get("layout") or {}).get("bucket_by_fk")
    bucket_by_fk = int(bucket_by_fk) if bucket_by_fk else None

    def samples() -> None:
        df = load_samples(spark, config["samples"], config.get("sample_columns"))
        _write_new(catalog, df, "samples", ["sample_id"], incremental)

    def expression(manifest, what: str, table: str, key: str) -> None:
        _write_new(catalog, ingest_expression(spark, manifest, what), table,
                   ["samplename", key], incremental)

    steps = {"samples": samples}
    rna = config.get("rna") or {}
    if rna.get("expression"):
        genes = [(s, g) for s, g, _ in rna["expression"]]
        isos = [(s, i) for s, _, i in rna["expression"] if i]
        steps["gene_expression"] = partial(
            expression, genes, "gene", "gene_expression", "gene")
        if isos:
            steps["transcript_expression"] = partial(
                expression, isos, "transcript", "transcript_expression",
                "transcript")
    if rna.get("junctions"):
        # unfiltered pass + QC-filtered pass (create_project.py:119-155)
        steps["all_junctions"] = partial(
            ingest_junctions, spark, catalog, rna["junctions"],
            incremental=incremental, bucket_by_fk=bucket_by_fk)
        steps["junctions"] = partial(
            ingest_junctions, spark, catalog, rna["junctions"],
            min_unique_reads=int(rna.get("min_unique_reads", 3)),
            filtered=True, incremental=incremental, bucket_by_fk=bucket_by_fk)

    snps = (config.get("snps") or {})
    # vcf.yaml-equivalent knobs (reference vcf.yaml:1-9 + variant_impacts):
    vcf_params = snps.get("vcf") or {}
    vcf_kw = dict(
        not_same=vcf_params.get("not_same", "error"),
        missing_impact=vcf_params.get("missing_impact", "ignore"),
        type_dict=vcf_params.get("variant_impacts"),
        split_multiallelic=bool(vcf_params.get("split_multiallelic", False)),
        incremental=incremental,
        bucket_by_fk=bucket_by_fk,
    )
    gate = snps.get("filter") or {}
    gate_kw = dict(
        pass_only=bool(gate.get("pass_only", True)),
        min_qual=gate.get("min_qual"),
    )
    # The four table families of reference create_project.py:101-115,
    # 153-175 + config.yaml:50-57: {,rna_}variants x {,filtered_}. A
    # filtered family either gets its own pre-filtered file list (the
    # reference's shape) or derives from the unfiltered list with the
    # explicit FILTER/qual gate when ``snps.filter`` is configured.
    for key, is_rna in (("variants", False), ("rna_variants", True)):
        files = snps.get(key)
        if files:
            steps[key] = partial(ingest_variants, spark, catalog, files,
                                 rna=is_rna, **vcf_kw)
        filt_files = snps.get(f"filtered_{key}")
        if filt_files:
            steps[f"filtered_{key}"] = partial(
                ingest_variants, spark, catalog, filt_files, rna=is_rna,
                filtered=True, **vcf_kw)
        elif files and gate:
            steps[f"filtered_{key}"] = partial(
                ingest_variants, spark, catalog, files, rna=is_rna,
                filtered=True, **vcf_kw, **gate_kw)

    _concurrently(spark, steps)
    return catalog
