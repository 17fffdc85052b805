"""Population-genetics association statistics over a genotype table —
the QC/association layer a clinpy-style variant store feeds (reference
scope: per-sample genotypes in the variants assay,
clinpy/assays/variants.py and database/variant_tables.py geno_variants;
the reference stores genotypes but leaves HWE/association to downstream
tools — here they are exact one-pass aggregates).

Input convention: one row per (variant, sample) with ``gt`` = alt-allele
dosage in {0, 1, 2} (hom-ref / het / hom-alt). Both statistics are
closed-form Pearson chi-squares over per-variant genotype counts, so a
SQL oracle recomputes them exactly (round-6 on the chi2 doubles).

- ``hwe_chi2``: Hardy-Weinberg equilibrium test per variant — observed
  genotype counts vs p^2 / 2pq / q^2 expectations (1 dof). The standard
  variant-QC gate: gross HWE violation flags genotyping error.
- ``allelic_assoc_chi2``: case/control allelic association per variant —
  the 2x2 (phenotype x allele) chi-square on allele COUNTS (each subject
  contributes 2 alleles), the basic GWAS burden readout.

Scale shape: both are a single groupBy on the variant key over
conditional-sum aggregates — one shuffle keyed by variant, perfectly
parallel, no window, no join (the 2x2 margins are per-group sums, not a
contingency cross join). Monomorphic variants (p in {0,1}) and empty
strata report chi2 = 0 by definition rather than dividing by zero.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clinpy_spark.functions.cramer import (
    _exp, _literal_row, _round, fit_newton, glm_moments, score_norm)


def hwe_chi2(df: DataFrame, variant_col: str, gt_col: str) -> DataFrame:
    """Per-variant HWE chi-square: (variant, n, n_hom_ref, n_het,
    n_hom_alt, alt_freq, chi2) with alt_freq and chi2 rounded to 6.

    chi2 = sum over the three genotype classes of (obs - exp)^2 / exp
    with exp = n * {(1-q)^2, 2q(1-q), q^2} and q = alt-allele frequency
    (2*hom_alt + het) / 2n. Monomorphic variants (q == 0 or 1) are in
    exact equilibrium: chi2 = 0 without evaluating 0/0.
    """
    gt = F.col(gt_col)
    per_v = df.groupBy(F.col(variant_col).alias("variant")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(gt == 0, 1).otherwise(0)).alias("n_hom_ref"),
        F.sum(F.when(gt == 1, 1).otherwise(0)).alias("n_het"),
        F.sum(F.when(gt == 2, 1).otherwise(0)).alias("n_hom_alt"),
    )
    return hwe_chi2_from_counts(per_v)


def hwe_chi2_from_counts(per_v: DataFrame) -> DataFrame:
    """HWE chi-square from an already-counted genotype-class table
    (variant, n, n_hom_ref, n_het, n_hom_alt) — the entry point when
    the hom-ref class is implicit (VCF mappings store non-ref calls
    only, so callers derive n_hom_ref = cohort - het - hom arithmetically
    instead of materializing rows; assays/variants.py Variants.hwe)."""
    q = (2 * F.col("n_hom_alt") + F.col("n_het")) / (2.0 * F.col("n"))
    p = 1 - q
    e0 = F.col("n") * p * p
    e1 = F.col("n") * 2 * p * q
    e2 = F.col("n") * q * q
    chi = (
        (F.col("n_hom_ref") - e0) * (F.col("n_hom_ref") - e0) / e0
        + (F.col("n_het") - e1) * (F.col("n_het") - e1) / e1
        + (F.col("n_hom_alt") - e2) * (F.col("n_hom_alt") - e2) / e2
    )
    return per_v.select(
        "variant", "n", "n_hom_ref", "n_het", "n_hom_alt",
        F.round(q, 6).alias("alt_freq"),
        F.when((q == 0) | (q == 1), F.lit(0.0))
        .otherwise(F.round(chi, 6))
        .alias("chi2"),
    )


def allelic_assoc_chi2(
    df: DataFrame,
    variant_col: str,
    gt_col: str,
    case_col: str,
) -> DataFrame:
    """Per-variant case/control allelic chi-square: (variant, case_alt,
    case_ref, ctrl_alt, ctrl_ref, chi2). ``case_col`` is a boolean
    phenotype; allele counts are 2 - gt ref and gt alt per subject.

    chi2 is the standard 2x2 Pearson statistic N(ad - bc)^2 /
    ((a+b)(c+d)(a+c)(b+d)); any empty margin (no cases, monomorphic)
    reports 0.0 by definition.
    """
    gt = F.col(gt_col).cast("long")
    is_case = F.col(case_col)
    per_v = df.groupBy(F.col(variant_col).alias("variant")).agg(
        F.sum(F.when(is_case, gt).otherwise(0)).alias("case_alt"),
        F.sum(F.when(is_case, 2 - gt).otherwise(0)).alias("case_ref"),
        F.sum(F.when(~is_case, gt).otherwise(0)).alias("ctrl_alt"),
        F.sum(F.when(~is_case, 2 - gt).otherwise(0)).alias("ctrl_ref"),
    )
    return allelic_chi2_from_counts(per_v)


def allelic_chi2_from_counts(per_v: DataFrame) -> DataFrame:
    """2x2 allelic chi-square from an already-counted cell table
    (variant, case_alt, case_ref, ctrl_alt, ctrl_ref) — for callers
    whose hom-ref subjects are implicit (cells derived from carrier
    sums + cohort totals, no row materialization)."""
    # Margin products overflow BIGINT past ~3e4 subjects per variant, so
    # the statistic is computed in doubles (exact while per-cell counts
    # stay below 2^26 — products then fit the 53-bit mantissa; the
    # oracle mirrors the same expression order).
    a = F.col("case_alt").cast("double")
    b = F.col("case_ref").cast("double")
    c = F.col("ctrl_alt").cast("double")
    d = F.col("ctrl_ref").cast("double")
    n = a + b + c + d
    denom = (a + b) * (c + d) * (a + c) * (b + d)
    num = a * d - b * c
    chi = n * num * num / denom
    return per_v.select(
        "variant", "case_alt", "case_ref", "ctrl_alt", "ctrl_ref",
        F.when(denom == 0, F.lit(0.0)).otherwise(F.round(chi, 6))
        .alias("chi2"),
    )


def ld_r2(
    df: DataFrame,
    variant_col: str,
    sample_col: str,
    gt_col: str,
    chrom_col: str,
    pos_col: str,
    max_dist: int,
    materialize: bool = False,
) -> DataFrame:
    """Pairwise linkage disequilibrium (composite genotypic r^2) for
    variant pairs on the same chromosome within ``max_dist`` bases:
    (vx, vy, n, r2) with vx < vy.

    r^2 is the squared Pearson correlation of the two genotype-dosage
    vectors (the input must be a COMPLETE matrix — every sample
    genotyped at every variant, the standard post-imputation shape, so
    per-variant moments equal per-pair moments), computed as
    (n*Sxy - Sx*Sy)^2 / ((n*Sxx - Sx^2) * (n*Syy - Sy^2)) — moment
    sums are exact integers, the final ratio is evaluated in doubles in
    a fixed expression order (no sqrt), so a SQL oracle reproduces it
    bit-for-bit; zero-variance (monomorphic) pairs report 0.0.

    Scale shape: candidate pairs come from a banded self-join of the
    DISTINCT variant map (bucket = pos / max_dist, probe side exploded
    to 3 neighbor buckets) — pair count is bounded by the LD window,
    never |variants|^2. Cross-moments come from per-variant
    sample-ordered genotype vectors (one matrix-sized groupBy, the
    PLINK bed-row layout): each candidate pair joins two vector rows
    and evaluates one exact integer dot product, so the matrix is
    shuffled ONCE and everything after is candidate-sized — the corpus
    is never self-joined on the sample key, and nothing is expanded by
    the window width.
    """
    g = df.select(
        F.col(variant_col).alias("__v"),
        F.col(sample_col).alias("__s"),
        F.col(gt_col).cast("long").alias("__gt"),
        F.col(chrom_col).alias("__chrom"),
        F.col(pos_col).cast("long").alias("__pos"),
    )
    if materialize:
        # The genotype relation is read three times (per-variant
        # moments, variant map, cross-moment probe): cut the lineage
        # once when upstream is computed (a synthesized or joined
        # matrix). Leave False when upstream is a bare parquet scan —
        # re-scanning columnar storage is cheaper than materializing.
        g = g.localCheckpoint(eager=False)
    stats = g.groupBy("__v").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__gt").alias("sx"),
        F.sum(F.col("__gt") * F.col("__gt")).alias("sxx"),
    )
    vmap = g.select("__v", "__chrom", "__pos").distinct()
    probe = vmap.select(
        F.col("__v").alias("vx"),
        F.col("__chrom").alias("cx"),
        F.col("__pos").alias("px"),
        F.explode(
            F.array(
                (F.col("__pos") / max_dist).cast("long") - 1,
                (F.col("__pos") / max_dist).cast("long"),
                (F.col("__pos") / max_dist).cast("long") + 1,
            )
        ).alias("__b"),
    )
    build = vmap.select(
        F.col("__v").alias("vy"),
        F.col("__chrom").alias("cy"),
        F.col("__pos").alias("py"),
        (F.col("__pos") / max_dist).cast("long").alias("__b"),
    )
    cand = (
        probe.join(build, ["__b"])
        .filter(
            (F.col("cx") == F.col("cy"))
            & (F.col("vx") < F.col("vy"))
            & (F.abs(F.col("px") - F.col("py")) <= max_dist)
        )
        .select("vx", "vy")
        .distinct()
    )
    # Per-variant sample-ordered genotype vectors. The previous shape
    # expanded the genotype table by the candidate list (~|window| x
    # |matrix| rows — 28M at sf0.1 for max_dist=10) and sort-merge
    # joined that against a second (sample, variant)-keyed copy: the
    # sort of the expanded side dominated the whole query. ONE
    # matrix-sized groupBy now builds each variant's genotype vector
    # ordered by sample id; the pair cross-moment is an exact integer
    # dot product (zip_with + aggregate over longs) evaluated once per
    # candidate pair, and every join after the groupBy is
    # candidate-sized. Sample order aligns across variants by the
    # complete-matrix contract above, which also makes n = |vector|.
    vec = g.groupBy("__v").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__s", "__gt"))),
            lambda x: x["__gt"],
        ).alias("__vec"),
    )
    cross = (
        cand.join(vec.select(F.col("__v").alias("vx"),
                             F.col("__vec").alias("__va")), "vx")
        .join(vec.select(F.col("__v").alias("vy"),
                         F.col("__vec").alias("__vb")), "vy")
        .select(
            "vx", "vy",
            F.size("__va").cast("long").alias("n"),
            F.aggregate(
                F.zip_with("__va", "__vb", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("sxy"),
        )
    )
    stx = stats.select(
        F.col("__v").alias("vx"), F.col("sx").alias("sx_x"),
        F.col("sxx").alias("sxx_x"))
    sty = stats.select(
        F.col("__v").alias("vy"), F.col("sx").alias("sx_y"),
        F.col("sxx").alias("sxx_y"))
    out = cross.join(stx, "vx").join(sty, "vy")
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx_x") * F.col("sx_y")
    varx = n * F.col("sxx_x") - F.col("sx_x") * F.col("sx_x")
    vary = n * F.col("sxx_y") - F.col("sx_y") * F.col("sx_y")
    return out.select(
        "vx", "vy", F.col("n").alias("n"),
        F.when((varx == 0) | (vary == 0), F.lit(0.0))
        .otherwise(F.round(num * num / (varx * vary), 6))
        .alias("r2"),
    )


def burden_test(
    df: DataFrame,
    variant_col: str,
    sample_col: str,
    gt_col: str,
    gene_col: str,
    case_col: str,
    max_freq: float = 0.05,
) -> DataFrame:
    """Rare-variant gene burden test: per gene, the 2x2 Pearson
    chi-square of carrier status (any alt allele at a rare variant of
    the gene) against case/control phenotype: (gene, n_rare_variants,
    case_carriers, case_total, ctrl_carriers, ctrl_total, chi2).

    "Rare" is decided FROM the cohort itself: variants whose
    alt-allele frequency < ``max_freq`` (first aggregation) feed the
    per-(gene, sample) carrier reduction (second aggregation); phenotype
    totals come from the distinct sample table so non-carriers are
    counted without materializing zero rows.

    Scale shape: three grouped passes (variant freq -> carrier flag ->
    gene counts) plus one broadcast of the 1-row phenotype totals —
    every shuffle is keyed by variant, (gene, sample), or gene; nothing
    is corpus x corpus.
    """
    g = df.select(
        F.col(variant_col).alias("__v"),
        F.col(sample_col).alias("__s"),
        F.col(gt_col).cast("long").alias("__gt"),
        F.col(gene_col).alias("__gene"),
        F.col(case_col).alias("__case"),
    )
    freq = g.groupBy("__v").agg(
        (F.sum("__gt") / (2.0 * F.count(F.lit(1)))).alias("__af"))
    rare = freq.filter(F.col("__af") < max_freq).select("__v")
    carriers = (
        g.join(rare, "__v", "left_semi")
        .groupBy("__gene", "__s", "__case")
        .agg(
            F.max(F.when(F.col("__gt") > 0, 1).otherwise(0)).alias("__carry"),
            F.count(F.lit(1)).alias("__nv"),
        )
    )
    per_gene = carriers.groupBy(F.col("__gene").alias("gene")).agg(
        F.max("__nv").alias("n_rare_variants"),
        F.sum(F.when(F.col("__case") & (F.col("__carry") == 1), 1)
              .otherwise(0)).alias("case_carriers"),
        F.sum(F.when(~F.col("__case") & (F.col("__carry") == 1), 1)
              .otherwise(0)).alias("ctrl_carriers"),
    )
    totals = (
        g.select("__s", "__case").distinct()
        .agg(
            F.sum(F.when(F.col("__case"), 1).otherwise(0)).alias("case_total"),
            F.sum(F.when(~F.col("__case"), 1).otherwise(0)).alias("ctrl_total"),
        )
    )
    out = per_gene.crossJoin(F.broadcast(totals))
    a = F.col("case_carriers").cast("double")
    b = (F.col("case_total") - F.col("case_carriers")).cast("double")
    c = F.col("ctrl_carriers").cast("double")
    d = (F.col("ctrl_total") - F.col("ctrl_carriers")).cast("double")
    n = a + b + c + d
    denom = (a + b) * (c + d) * (a + c) * (b + d)
    num = a * d - b * c
    return out.select(
        "gene", "n_rare_variants", "case_carriers", "case_total",
        "ctrl_carriers", "ctrl_total",
        F.when(denom == 0, F.lit(0.0))
        .otherwise(F.round(n * num * num / denom, 6)).alias("chi2"),
    )


def roh_runs(
    df: DataFrame,
    sample_col: str,
    chrom_col: str,
    pos_col: str,
    gt_col: str,
    min_sites: int = 8,
) -> DataFrame:
    """Runs of homozygosity per sample: maximal stretches of
    CONSECUTIVE homozygous calls (gt 0 or 2) along each chromosome:
    (sample, chrom, start_pos, end_pos, n_sites), runs shorter than
    ``min_sites`` dropped. The standard autozygosity / consanguinity
    screen over a genotype matrix.

    Classic gaps-and-islands: site rank along the chromosome minus the
    rank among homozygous sites is constant within a run — two window
    ranks and one groupBy, all partitioned by (sample, chromosome), so
    the shuffle is genotype-matrix-shaped and every window state is one
    chromosome of one sample.
    """
    w_all = Window.partitionBy(sample_col, chrom_col).orderBy(pos_col)
    hom = (
        df.withColumn("__rn", F.row_number().over(w_all))
        .filter(F.col(gt_col) != 1)
    )
    w_hom = Window.partitionBy(sample_col, chrom_col).orderBy(pos_col)
    runs = (
        hom.withColumn("__grp", F.col("__rn") - F.row_number().over(w_hom))
        .groupBy(
            F.col(sample_col).alias("sample"),
            F.col(chrom_col).alias("chrom"),
            F.col("__grp"),
        )
        .agg(
            F.min(pos_col).alias("start_pos"),
            F.max(pos_col).alias("end_pos"),
            F.count(F.lit(1)).alias("n_sites"),
        )
        .filter(F.col("n_sites") >= min_sites)
        .drop("__grp")
    )
    return runs


def trend_chi2(
    df: DataFrame,
    variant_col: str,
    gt_col: str,
    case_col: str,
) -> DataFrame:
    """Cochran-Armitage trend test per variant (additive weights
    0/1/2 — the standard GWAS association model): (variant, n, n_case,
    score_case, score_total, chi2).

    chi2 = N * (N*Sr - R*Sn)^2 / (R*(N-R) * (N*Sq - Sn^2)) with
    Sr = sum of case genotype scores, Sn = sum of all scores, Sq = sum
    of squared scores, R = cases, N = subjects — every moment an exact
    integer from ONE conditional-sum groupBy; the ratio is evaluated in
    doubles in a fixed order. Degenerate strata (no cases, no controls,
    or zero score variance) report 0.0.
    """
    gt = F.col(gt_col).cast("long")
    is_case = F.col(case_col)
    per_v = df.groupBy(F.col(variant_col).alias("variant")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(is_case, 1).otherwise(0)).alias("n_case"),
        F.sum(F.when(is_case, gt).otherwise(0)).alias("score_case"),
        F.sum(gt).alias("score_total"),
        F.sum(gt * gt).alias("__sq"),
    )
    return trend_chi2_from_moments(per_v)


def trend_chi2_from_moments(per_v: DataFrame) -> DataFrame:
    """Cochran-Armitage chi-square from already-aggregated moments
    (variant, n, n_case, score_case, score_total, __sq) — absent
    (hom-ref) subjects contribute 0 to every score moment, so carriers-
    only tables plus cohort totals suffice (no row materialization)."""
    nn = F.col("n").cast("double")
    r = F.col("n_case").cast("double")
    sr = F.col("score_case").cast("double")
    sn = F.col("score_total").cast("double")
    sq = F.col("__sq").cast("double")
    num = nn * sr - r * sn
    var = r * (nn - r) * (nn * sq - sn * sn)
    chi = nn * num * num / var
    return per_v.select(
        "variant", "n", "n_case", "score_case", "score_total",
        F.when(
            (F.col("n_case") == 0) | (F.col("n_case") == F.col("n"))
            | (nn * sq - sn * sn == 0),
            F.lit(0.0),
        ).otherwise(F.round(chi, 6)).alias("chi2"),
    )


def odds_ratio(
    df: DataFrame,
    variant_col: str,
    gt_col: str,
    case_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Per-variant allelic odds ratio with the Haldane-Anscombe +0.5
    correction and a normal-approximation CI on the log scale:
    (variant, case_alt, case_ref, ctrl_alt, ctrl_ref, or_est, or_lo,
    or_hi), all three rounded to 6.

    OR = ((a+.5)(d+.5)) / ((b+.5)(c+.5)); CI = exp(ln(OR) -/+ z * se)
    with se = sqrt(1/(a+.5) + 1/(b+.5) + 1/(c+.5) + 1/(d+.5)). The
    +0.5 makes every cell positive, so the estimate is total (no
    zero-cell special case) — the conventional finite-sample fix.
    Same one-groupBy shape as :func:`allelic_assoc_chi2`.
    """
    gt = F.col(gt_col).cast("long")
    is_case = F.col(case_col)
    per_v = df.groupBy(F.col(variant_col).alias("variant")).agg(
        F.sum(F.when(is_case, gt).otherwise(0)).alias("case_alt"),
        F.sum(F.when(is_case, 2 - gt).otherwise(0)).alias("case_ref"),
        F.sum(F.when(~is_case, gt).otherwise(0)).alias("ctrl_alt"),
        F.sum(F.when(~is_case, 2 - gt).otherwise(0)).alias("ctrl_ref"),
    )
    return odds_ratio_from_counts(per_v, z=z)


def odds_ratio_from_counts(per_v: DataFrame, z: float = 1.96) -> DataFrame:
    """Haldane odds ratio + CI from an already-counted 2x2 cell table
    (variant, case_alt, case_ref, ctrl_alt, ctrl_ref)."""
    a = F.col("case_alt") + 0.5
    b = F.col("case_ref") + 0.5
    c = F.col("ctrl_alt") + 0.5
    d = F.col("ctrl_ref") + 0.5
    orr = a * d / (b * c)
    se = F.sqrt(1 / a + 1 / b + 1 / c + 1 / d)
    return per_v.select(
        "variant", "case_alt", "case_ref", "ctrl_alt", "ctrl_ref",
        F.round(orr, 6).alias("or_est"),
        F.round(F.exp(F.log(orr) - z * se), 6).alias("or_lo"),
        F.round(F.exp(F.log(orr) + z * se), 6).alias("or_hi"),
    )


def quantile_normalize(
    df: DataFrame,
    sample_col: str,
    feature_col: str,
    value_col: str,
    max_features: int | None = None,
) -> DataFrame:
    """Quantile normalization of a (sample x feature) value matrix —
    the standard cross-sample expression normalization (Bolstad 2003):
    every sample's distribution is replaced by the mean distribution,
    matched by rank: (sample, feature, rank, qn_value).

    Ranks within each sample break value ties by feature id, so the
    rank map is total and deterministic; the reference distribution at
    each rank is the plain mean of that rank's values across samples
    (exact integer/long sums divided once, rounded to 6).

    Scale shape: one window partitioned by sample (rank assignment),
    one groupBy on rank (|features| rows out), one equi-join back on
    rank. The rank join carries a broadcast hint only when the caller
    declares a safe feature bound (``max_features``); without one, AQE
    picks the strategy from the aggregate's actual runtime size — a
    millions-of-features matrix must not be forced into a driver-side
    broadcast (r10 advice).
    """
    ranked = df.select(
        F.col(sample_col).alias("sample"),
        F.col(feature_col).alias("feature"),
        F.col(value_col).alias("__v"),
    ).withColumn("rank", F.row_number().over(
        Window.partitionBy("sample").orderBy(
            F.col("__v").asc(), F.col("feature").asc())))
    ref = ranked.groupBy("rank").agg(
        (F.sum("__v").cast("double") / F.count(F.lit(1))).alias("__qn"))
    # The reference table is |features| rows (one per rank) — an
    # unconditional broadcast hint would OOM the driver on a
    # multi-million-feature matrix (r10 advice). Hint only when the
    # caller-declared bound says it's safe; otherwise leave the
    # strategy to AQE, which sees the aggregate's ACTUAL runtime size
    # and still broadcasts small references for free.
    if max_features is not None and max_features <= 1_000_000:
        ref = F.broadcast(ref)
    return (
        ranked.join(ref, "rank")
        .select(
            "sample", "feature", "rank",
            F.round("__qn", 6).alias("qn_value"),
        )
    )


def fst_hudson(
    df: DataFrame,
    variant_col: str,
    gt_col: str,
    pop_col: str,
) -> DataFrame:
    """Per-variant Hudson F_ST between two populations: (variant, n1,
    n2, alt1, alt2, p1, p2, fst). ``pop_col`` is a boolean (True =
    population 1); ``gt_col`` is the 0/1/2 alt-allele dosage; n1/n2 are
    ALLELE counts (2 x subjects). The population-differentiation scan
    of a cohort store — which variants stratify the cohorts.

    Hudson estimator in the Bhatia et al. 2013 ratio-of-averages form
    per site: numerator (p1-p2)^2 - p1(1-p1)/(n1-1) - p2(1-p2)/(n2-1),
    denominator p1(1-p2) + p2(1-p1); fst = num/den, NULL when either
    population has < 2 alleles or the denominator is 0 (both
    populations monomorphic for the same allele) — never a
    divide-by-zero under ANSI mode. Recommended over Weir-Cockerham
    when sample sizes differ (Bhatia's guidance); unlike W-C it has no
    sample-size weighting to bias small cohorts.
    """
    gt = F.col(gt_col).cast("long")
    p1m = F.col(pop_col)
    per_v = df.groupBy(F.col(variant_col).alias("variant")).agg(
        F.sum(F.when(p1m, 2).otherwise(0)).alias("n1"),
        F.sum(F.when(~p1m, 2).otherwise(0)).alias("n2"),
        F.sum(F.when(p1m, gt).otherwise(0)).alias("alt1"),
        F.sum(F.when(~p1m, gt).otherwise(0)).alias("alt2"),
    )
    return fst_from_counts(per_v)


def fst_from_counts(per_v: DataFrame) -> DataFrame:
    """Hudson F_ST from an already-counted allele table (variant, n1,
    n2, alt1, alt2) — for callers whose hom-ref subjects are implicit
    (allele counts derived from carrier sums + cohort totals, the same
    no-matrix path as hwe/association from-counts)."""
    p1 = F.col("alt1").cast("double") / F.col("n1")
    p2 = F.col("alt2").cast("double") / F.col("n2")
    num = (
        (p1 - p2) * (p1 - p2)
        - p1 * (1 - p1) / (F.col("n1") - 1)
        - p2 * (1 - p2) / (F.col("n2") - 1)
    )
    den = p1 * (1 - p2) + p2 * (1 - p1)
    ok = (F.col("n1") > 1) & (F.col("n2") > 1)
    return per_v.select(
        "variant", "n1", "n2", "alt1", "alt2",
        F.when(F.col("n1") > 0, F.round(p1, 6)).alias("p1"),
        F.when(F.col("n2") > 0, F.round(p2, 6)).alias("p2"),
        F.when(ok & (den > 0), F.round(num / den, 6)).alias("fst"),
    )


def inbreeding_f(
    df: DataFrame,
    variant_col: str,
    sample_col: str,
    gt_col: str,
) -> DataFrame:
    """Per-sample method-of-moments inbreeding coefficient: (sample,
    n_variants, obs_het, exp_het, f) with F = 1 - obs_het / exp_het.
    The sample-QC twin of the per-variant HWE gate: excess homozygosity
    (F >> 0) flags consanguinity or sample contamination the other way
    (F << 0 flags excess heterozygosity / mixture).

    exp_het sums 2 p_v (1 - p_v) over the variants the sample is
    genotyped at, with p_v the cohort alt-allele frequency at v —
    monomorphic variants contribute 0 expected heterozygosity and drop
    from both sums exactly. F is NULL when exp_het = 0 (a sample
    genotyped only at monomorphic sites; never a 0-division).

    Scale shape: one variant-keyed groupBy for frequencies, one
    broadcast-or-hash equi-join back, one sample-keyed aggregate — the
    genotype matrix is traversed twice, never self-joined.
    """
    g = df.select(
        F.col(variant_col).alias("__v"),
        F.col(sample_col).alias("__s"),
        F.col(gt_col).cast("int").alias("__gt"),
    )
    freq = g.groupBy("__v").agg(
        (F.sum("__gt").cast("double") / (2 * F.count(F.lit(1))))
        .alias("__p"))
    eh = 2 * F.col("__p") * (1 - F.col("__p"))
    per_s = (
        g.join(freq, "__v")
        .groupBy(F.col("__s").alias("sample"))
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.sum(F.when(F.col("__gt") == 1, 1).otherwise(0))
            .alias("obs_het"),
            F.sum(eh).alias("__eh"),
        )
    )
    return per_s.select(
        "sample", "n_variants", "obs_het",
        F.round("__eh", 6).alias("exp_het"),
        F.when(
            F.col("__eh") > 0,
            F.round(1 - F.col("obs_het") / F.col("__eh"), 6),
        ).alias("f"),
    )


def king_kinship(
    df: DataFrame,
    sample_col: str,
    variant_col: str,
    gt_col: str,
) -> DataFrame:
    """KING-robust pairwise kinship over a genotype long table
    (sample, variant, gt in {0,1,2}): one row per unordered sample
    pair (s1 < s2) with (s1, s2, n_shared, n_both_het, n_opp_hom,
    het_1, het_2, kinship, degree) — the relatedness screen every
    genetic association study runs before modelling (cryptic
    relatedness inflates every test in this module).

    Manichaikul 2010 within-family-robust estimator:
    phi_hat = (N_Aa,Aa - 2 * N_AA,aa) / (N_Aa^(i) + N_Aa^(j))
    over the variants BOTH samples have a call for; NULL when neither
    sample has a het call (monomorphic pair). degree buckets phi by
    the published inference thresholds (>0.3536 duplicate/MZ, >0.1768
    1st-degree, >0.0884 2nd, >0.0442 3rd, else unrelated).

    Scale shape: the self-join is keyed on the VARIANT (an equi-join
    Spark hashes/broadcasts normally — never a cartesian product), and
    each pair collapses to one count row in the same aggregate. Cohort
    pairs are quadratic in SAMPLES, which is the statistic's intrinsic
    output size (a phenotype-scale cohort, not the corpus); the
    variant dimension — the 100 TB axis — streams through linearly.
    Cite: reference variants.py genotype model (gt dosage 0/1/2).
    """
    g = df.select(
        F.col(sample_col).alias("__s"),
        F.col(variant_col).alias("__v"),
        F.col(gt_col).cast("int").alias("__g"),
    ).filter(F.col("__g").isNotNull())
    a, b = g.alias("a"), g.alias("b")
    pairs = (
        a.join(b, F.col("a.__v") == F.col("b.__v"))
        .filter(F.col("a.__s") < F.col("b.__s"))
        .groupBy(
            F.col("a.__s").alias("s1"), F.col("b.__s").alias("s2"))
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum(
                F.when((F.col("a.__g") == 1) & (F.col("b.__g") == 1), 1)
                .otherwise(0)
            ).alias("n_both_het"),
            F.sum(
                F.when(
                    ((F.col("a.__g") == 0) & (F.col("b.__g") == 2))
                    | ((F.col("a.__g") == 2) & (F.col("b.__g") == 0)),
                    1,
                ).otherwise(0)
            ).alias("n_opp_hom"),
            F.sum(F.when(F.col("a.__g") == 1, 1).otherwise(0))
            .alias("het_1"),
            F.sum(F.when(F.col("b.__g") == 1, 1).otherwise(0))
            .alias("het_2"),
        )
    )
    denom = F.col("het_1") + F.col("het_2")
    phi = (F.col("n_both_het") - 2.0 * F.col("n_opp_hom")) / denom
    kin = F.when(denom > 0, F.round(phi, 6))
    return pairs.select(
        "s1", "s2", "n_shared", "n_both_het", "n_opp_hom",
        "het_1", "het_2",
        kin.alias("kinship"),
        F.when(denom <= 0, F.lit("undefined"))
        .when(phi > 0.3536, F.lit("dup/MZ"))
        .when(phi > 0.1768, F.lit("1st-degree"))
        .when(phi > 0.0884, F.lit("2nd-degree"))
        .when(phi > 0.0442, F.lit("3rd-degree"))
        .otherwise(F.lit("unrelated"))
        .alias("degree"),
    )


def cmh_test(
    df: DataFrame,
    stratum_col: str,
    exposed_col: str,
    case_col: str,
) -> DataFrame:
    """Cochran-Mantel-Haenszel test for a 2x2 association repeated
    across K strata: 1 row (cmh_chi2, or_mh, n_strata, n) — the
    confounder-adjusted categorical association (does exposure track
    outcome AFTER stratifying on the confounder?), the 2x2 sibling of
    the stratified log-rank. Inputs are boolean/0-1 columns; rows with
    a NULL in any of the three are dropped.

    Per stratum k with cells a,b,c,d (a = exposed case), margins
    m1 = a+b (cases), n1 = a+c (exposed), t = total:
    E_k = n1*m1/t, V_k = n1*(t-n1)*m1*(t-m1) / (t^2 * (t-1)),
    CMH chi2 = (|sum(a_k - E_k)| - 0.5)^2 / sum(V_k)  (1 df, the
    classic continuity-corrected form), and the Mantel-Haenszel common
    odds ratio = sum(a_k d_k / t_k) / sum(b_k c_k / t_k). Strata with
    t < 2 or an empty margin contribute 0 variance and no OR terms;
    chi2/or are NULL when their denominators vanish. Rounded to 6.

    Scale shape: ONE groupBy to the per-stratum 2x2 grid, then one
    bounded aggregate over the K strata rows — the corpus is scanned
    once and never joined.
    """
    e = F.col("__e").cast("int")
    y = F.col("__y").cast("int")
    base = df.select(
        F.col(stratum_col).alias("__s"),
        F.col(exposed_col).cast("int").alias("__e"),
        F.col(case_col).cast("int").alias("__y"),
    ).filter(F.col("__e").isNotNull() & F.col("__y").isNotNull()
             & F.col("__s").isNotNull())
    per_k = base.groupBy("__s").agg(
        F.sum(e * y).alias("a"),
        F.sum((1 - e) * y).alias("b"),
        F.sum(e * (1 - y)).alias("c"),
        F.sum((1 - e) * (1 - y)).alias("d"),
    )
    t = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    m1 = (F.col("a") + F.col("b")).cast("double")
    n1 = (F.col("a") + F.col("c")).cast("double")
    ek = n1 * m1 / t
    vk = F.when(
        t > 1,
        n1 * (t - n1) * m1 * (t - m1) / (t * t * (t - 1)),
    ).otherwise(F.lit(0.0))
    agg = per_k.agg(
        F.sum(F.when(t > 0, F.col("a") - ek).otherwise(0.0)).alias("__u"),
        F.sum(vk).alias("__v"),
        F.sum(F.when(t > 0, F.col("a") * F.col("d") / t).otherwise(0.0))
        .alias("__ad"),
        F.sum(F.when(t > 0, F.col("b") * F.col("c") / t).otherwise(0.0))
        .alias("__bc"),
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("n"),
    )
    num = (F.abs(F.col("__u")) - 0.5)
    return agg.select(
        F.when(
            F.col("__v") > 0,
            F.round(num * num / F.col("__v"), 6),
        ).alias("cmh_chi2"),
        F.when(F.col("__bc") > 0, F.round(F.col("__ad") / F.col("__bc"), 6))
        .alias("or_mh"),
        "n_strata",
        "n",
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between two cohorts: 1
    row (u_a, r_a, n_a, n_b, z, n_ties) — the NONPARAMETRIC two-group
    comparison (does expression/price/score tend higher in arm A?)
    that ``dx_diff_expression``'s t-like contrast can't give when the
    distribution is skewed.

    Midranks over the pooled sample with the standard tie-corrected
    normal approximation:
    U_a = R_a - n_a(n_a+1)/2,
    z = (U_a - n_a n_b / 2) / sqrt(n_a n_b ((N+1) - sum(t^3-t)/(N(N-1))) / 12)
    (no continuity correction — the large-sample monitoring form). z
    is NULL when the variance vanishes (all values tied). Rounded to 6.

    Scale shape: ranks come from the PER-DISTINCT-VALUE aggregate
    (count per side per value), so the ordered cumulative window runs
    over |distinct values| rows, not the corpus — the same compromise
    as ``ks_from_value_counts``; midrank sums stay EXACT because every
    midrank is a half-integer (2*midrank is integral in doubles far
    below 2^53).
    """
    is_a = F.col(group_col) == F.lit(group_a)
    is_b = F.col(group_col) == F.lit(group_b)
    per_val = (
        df.filter(is_a | is_b)
        .select(
            F.col(value_col).alias("__v"),
            F.when(is_a, 1).otherwise(0).alias("__ia"),
        )
        .groupBy("__v")
        .agg(
            F.sum("__ia").alias("na"),
            F.sum(1 - F.col("__ia")).alias("nb"),
        )
    )
    cnt = (F.col("na") + F.col("nb")).cast("double")
    w_prev = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_val.withColumn(
        "__before",
        F.coalesce(F.sum(F.col("na") + F.col("nb")).over(w_prev), F.lit(0))
        .cast("double"),
    ).withColumn("__midrank", F.col("__before") + (cnt + 1) / 2)
    agg = ranked.agg(
        F.sum(F.col("na").cast("double") * F.col("__midrank")).alias("r_a"),
        F.sum("na").alias("n_a"),
        F.sum("nb").alias("n_b"),
        F.sum(cnt * cnt * cnt - cnt).alias("__tie"),
        F.sum(F.when(cnt > 1, 1).otherwise(0)).alias("n_ties"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nn = na + nb
    u_a = F.col("r_a") - na * (na + 1) / 2
    var = na * nb / 12 * ((nn + 1) - F.col("__tie") / (nn * (nn - 1)))
    return agg.select(
        F.round(u_a, 6).alias("u_a"),
        F.round("r_a", 6).alias("r_a"),
        "n_a",
        "n_b",
        F.when(
            var > 0,
            F.round((u_a - na * nb / 2) / F.sqrt(var), 6),
        ).alias("z"),
        "n_ties",
    )


def tajima_d(
    df: DataFrame,
    gene_col: str,
    variant_col: str,
    gt_col: str,
) -> DataFrame:
    """Tajima's D per gene from a diploid genotype long table (gt in
    {0,1,2}): one row per gene (gene, s_sites, n_chrom, pi, theta_w,
    tajima_d) — the neutrality/selection scan (negative D = excess
    rare variants ~ purifying selection or expansion; positive D =
    balancing selection), the classic population-genetics summary the
    reference's variant store feeds.

    Standard Tajima 1989 constants from n = max chromosomes observed
    in the gene (assumes near-complete genotyping, stated contract):
    pi = sum over sites of c_alt*(n_v-c_alt) / C(n_v,2) (per-site
    chromosome counts, exact), theta_w = S/a1,
    D = (pi - theta_w) / sqrt(e1*S + e2*S*(S-1)); NULL when S = 0 or
    the variance vanishes. a1/a2 are the harmonic sums over 1..n-1,
    computed distributed by exploding a per-gene integer sequence —
    genes x (n-1) rows, bounded by the COHORT, not the corpus.
    Rounded to 6.

    Scale shape: one groupBy to per-(gene, variant) counts (the 100 TB
    axis reduces first), one per-gene aggregate, and the harmonic-sum
    explode joins back per gene — no self-joins, nothing collected.
    """
    per_v = df.groupBy(
        F.col(gene_col).alias("__g"), F.col(variant_col).alias("__v")
    ).agg(
        F.sum(F.col(gt_col).cast("long")).alias("ca"),
        (2 * F.count(F.lit(1))).alias("nv"),
    )
    seg = (F.col("ca") > 0) & (F.col("ca") < F.col("nv"))
    pi_term = (
        F.col("ca") * (F.col("nv") - F.col("ca"))
        / (F.col("nv") * (F.col("nv") - 1) / 2.0)
    )
    per_g = per_v.groupBy("__g").agg(
        F.sum(F.when(seg, 1).otherwise(0)).alias("s_sites"),
        F.sum(F.when(seg, pi_term).otherwise(0.0)).alias("__pi"),
        F.max("nv").alias("n_chrom"),
    )
    harm = (
        per_g.select(
            "__g",
            F.explode(F.sequence(F.lit(1).cast("long"),
                                 F.col("n_chrom") - 1)).alias("__i"))
        .groupBy("__g")
        .agg(
            F.sum(1.0 / F.col("__i")).alias("a1"),
            F.sum(1.0 / (F.col("__i") * F.col("__i"))).alias("a2"),
        )
    )
    j = per_g.join(harm, "__g")
    n = F.col("n_chrom")
    s = F.col("s_sites")
    a1, a2 = F.col("a1"), F.col("a2")
    b1 = (n + 1) / (3.0 * (n - 1))
    b2 = 2.0 * (n * n + n + 3) / (9.0 * n * (n - 1))
    c1 = b1 - 1.0 / a1
    c2 = b2 - (n + 2) / (a1 * n) + a2 / (a1 * a1)
    e1 = c1 / a1
    e2 = c2 / (a1 * a1 + a2)
    var = e1 * s + e2 * s * (s - 1)
    return j.select(
        F.col("__g").alias("gene"),
        "s_sites",
        "n_chrom",
        F.round("__pi", 6).alias("pi"),
        F.when(s > 0, F.round(s / a1, 6)).alias("theta_w"),
        F.when(
            (s > 0) & (var > 0),
            F.round((F.col("__pi") - s / a1) / F.sqrt(var), 6),
        ).alias("tajima_d"),
    )


def brown_forsythe(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Brown-Forsythe test for equality of VARIANCES across k groups
    (the robust Levene variant: deviations from the group MEDIAN, so
    heavy tails don't masquerade as variance differences): 1 row
    (f_stat, df1, df2, n, k) — the check run before trusting a pooled-
    variance contrast like ``dx_diff_expression``.

    z_ij = |x_ij - median(group j)| (exact interpolated medians), then
    the one-way ANOVA F on z: F = ((N-k)/(k-1)) *
    sum_j n_j (zbar_j - zbar)^2 / sum_ij (z_ij - zbar_j)^2.
    NULL when the within-group sum of squares is 0 (all deviations
    identical) or k < 2. Rounded to 6.

    Scale shape: one percentile aggregate per group (k-row broadcast
    joined back), one grouped moment pass, one k-row final fold — the
    corpus is scanned twice and never self-joined.
    """
    meds = df.groupBy(F.col(group_col).alias("__g")).agg(
        F.percentile(F.col(value_col), F.lit(0.5)).alias("__med"))
    z = (
        df.select(F.col(group_col).alias("__g"),
                  F.col(value_col).cast("double").alias("__x"))
        .join(F.broadcast(meds), "__g")
        .withColumn("__z", F.abs(F.col("__x") - F.col("__med")))
    )
    per_g = z.groupBy("__g").agg(
        F.count(F.lit(1)).alias("nj"),
        F.sum("__z").alias("sz"),
        F.sum(F.col("__z") * F.col("__z")).alias("szz"),
    )
    agg = per_g.agg(
        F.sum("nj").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum("sz").alias("__s"),
        # within-group SS via the moment identity sum (z - zbar_j)^2
        # = szz - sz^2/n_j, exact per group
        F.sum(F.col("szz") - F.col("sz") * F.col("sz") / F.col("nj"))
        .alias("__ssw"),
        F.sum(F.col("sz") * F.col("sz") / F.col("nj")).alias("__sb"),
    )
    nn = F.col("n").cast("double")
    k = F.col("k").cast("double")
    # between-group SS = sum n_j zbar_j^2 - N zbar^2
    ssb = F.col("__sb") - F.col("__s") * F.col("__s") / nn
    f = (nn - k) / (k - 1) * ssb / F.col("__ssw")
    return agg.select(
        F.when((F.col("k") > 1) & (F.col("__ssw") > 0), F.round(f, 6))
        .alias("f_stat"),
        (F.col("k") - 1).alias("df1"),
        (F.col("n") - F.col("k")).alias("df2"),
        "n",
        "k",
    )


def anova_oneway(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """One-way ANOVA F test for equality of MEANS across k groups: 1
    row (f_stat, df1, df2, n, k) — the
    parametric mean contrast whose variance-homogeneity precondition
    :func:`brown_forsythe` checks (run them together; report both).

    Via the exact moment identities (one pass, no mean-centering
    join): SS_within = sum_j (sxx_j - sx_j^2/n_j),
    SS_between = sum_j sx_j^2/n_j - (sum x)^2/N,
    F = (SS_b/(k-1)) / (SS_w/(N-k)). NULL when SS_within = 0 or k < 2.
    Only the SCALE-FREE F ratio is emitted (rounded to 6): the raw
    sums of squares sit at ~1e13 for money-scale data, where the last
    float ulp of an order-dependent sum exceeds the 1e-6 rounding
    grain — F's relative error stays ~1e-14 and reproduces exactly.

    Scale shape: ONE grouped moment aggregate plus a k-row fold — the
    corpus is scanned once, never joined.
    """
    per_g = (
        df.select(F.col(group_col).alias("__g"),
                  F.col(value_col).cast("double").alias("__x"))
        .groupBy("__g")
        .agg(
            F.count(F.lit(1)).alias("nj"),
            F.sum("__x").alias("sx"),
            F.sum(F.col("__x") * F.col("__x")).alias("sxx"),
        )
    )
    agg = per_g.agg(
        F.sum("nj").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum("sx").alias("__s"),
        F.sum(F.col("sxx") - F.col("sx") * F.col("sx") / F.col("nj"))
        .alias("__ssw"),
        F.sum(F.col("sx") * F.col("sx") / F.col("nj")).alias("__sb"),
    )
    nn = F.col("n").cast("double")
    k = F.col("k").cast("double")
    ssb = F.col("__sb") - F.col("__s") * F.col("__s") / nn
    f = (ssb / (k - 1)) / (F.col("__ssw") / (nn - k))
    ok = (F.col("k") > 1) & (F.col("__ssw") > 0)
    return agg.select(
        F.when(ok, F.round(f, 6)).alias("f_stat"),
        (F.col("k") - 1).alias("df1"),
        (F.col("n") - F.col("k")).alias("df2"),
        "n",
        "k",
    )


def mendel_errors(
    df: DataFrame,
    variant_col: str,
    father_col: str,
    mother_col: str,
    child_col: str,
) -> DataFrame:
    """Mendelian-inheritance error scan over trio genotype rows
    (variant, gt_father, gt_mother, gt_child in {0,1,2}): one row per
    variant (variant, n_trios, n_errors, error_rate, n_uninformative)
    — the pedigree QC every family study runs before transmission
    tests (a high error rate flags sample swaps or genotyping
    failure).

    A child genotype is an ERROR iff it requires an allele no parent
    can transmit: hom x hom-same -> child must match the shared
    dosage/2 rule (0x0 -> 0, 2x2 -> 2, 0x2 -> 1); a het parent can
    transmit either allele, so only the impossible dosages count
    (0x0 -> child 1 or 2; 0x1 -> child 2; ...). Trios with any NULL
    genotype are n_uninformative. error_rate rounded to 6.

    Scale shape: ONE classification expression + one per-variant
    groupBy — the 100 TB trio axis reduces immediately, no joins.
    """
    f_ = F.col("__f")
    m_ = F.col("__m")
    c_ = F.col("__c")
    base = df.select(
        F.col(variant_col).alias("__v"),
        F.col(father_col).cast("int").alias("__f"),
        F.col(mother_col).cast("int").alias("__m"),
        F.col(child_col).cast("int").alias("__c"),
    )
    complete = f_.isNotNull() & m_.isNotNull() & c_.isNotNull()
    # min/max transmittable dosage: each parent contributes 0 or 1 alt
    # allele; hom-ref forces 0, hom-alt forces 1, het allows either.
    lo = (f_ / 2).cast("int") + (m_ / 2).cast("int")          # floor(gt/2)
    hi = F.least(f_, F.lit(1)) + F.least(m_, F.lit(1))        # min(gt,1)
    err = complete & ((c_ < lo) | (c_ > hi))
    return (
        base.groupBy(F.col("__v").alias(variant_col))
        .agg(
            F.count(F.lit(1)).alias("n_trios"),
            F.sum(F.when(err, 1).otherwise(0)).alias("n_errors"),
            F.sum(F.when(~complete, 1).otherwise(0)).alias("n_uninformative"),
        )
        .withColumn(
            "error_rate",
            F.when(
                F.col("n_trios") > F.col("n_uninformative"),
                F.round(
                    F.col("n_errors")
                    / (F.col("n_trios") - F.col("n_uninformative")), 6),
            ),
        )
    )


def polygenic_score(
    geno: DataFrame,
    weights: DataFrame,
    sample_col: str,
    variant_col: str,
    gt_col: str,
    weight_col: str,
) -> DataFrame:
    """Polygenic risk score per sample: PRS = sum over scored variants
    of dosage * weight — (sample, prs, n_variants_scored) with prs
    rounded to 6. The standard clinical aggregation of a published
    GWAS weight table onto a cohort's genotypes (the reference's
    variant store is exactly the join target, variants.py gt model).

    Variants absent from the weight table simply don't score (inner
    join); missing genotypes contribute nothing. The weight table is
    broadcast when small (the usual case: 1e2-1e6 rows vs a 100 TB
    genotype corpus); the genotype axis streams through one join + one
    per-sample aggregate.
    """
    w = weights.select(
        F.col(variant_col).alias("__v"), F.col(weight_col).alias("__w"))
    g = geno.select(
        F.col(sample_col).alias("__s"),
        F.col(variant_col).alias("__v"),
        F.col(gt_col).cast("double").alias("__gt"),
    ).filter(F.col("__gt").isNotNull())
    return (
        g.join(F.broadcast(w), "__v")
        .groupBy(F.col("__s").alias(sample_col))
        .agg(
            F.round(F.sum(F.col("__gt") * F.col("__w")), 6).alias("prs"),
            F.count(F.lit(1)).alias("n_variants_scored"),
        )
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Kruskal-Wallis H test across k groups: 1 row (h, h_corrected,
    df, n, n_groups, n_ties) — the k-group generalization of
    ``mann_whitney_u`` (rank-based one-way ANOVA; the nonparametric
    sibling of ``anova_oneway`` when normality/equal-variance fail the
    ``brown_forsythe`` precondition).

    H = 12/(N(N+1)) * sum_g R_g^2/n_g - 3(N+1) over pooled midranks,
    tie-corrected H_c = H / (1 - sum(t^3-t)/(N^3-N)); df = k-1.
    h_corrected is NULL when all values are tied (correction factor 0).

    Scale shape: midranks from the PER-(value, group) aggregate, so
    the ordered cumulative window runs over |distinct values| rows
    (computed once for the pooled sample, shared by every group), then
    one k-row grouped aggregate — the same bounded-grid compromise as
    ``mann_whitney_u``; midrank sums are EXACT (half-integers).
    Null-group/null-value rows are excluded.
    """
    per_vg = (
        df.filter(F.col(value_col).isNotNull() & F.col(group_col).isNotNull())
        .groupBy(
            F.col(value_col).alias("__v"), F.col(group_col).alias("__g"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w_prev = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    per_val = per_vg.groupBy("__v").agg(F.sum("__c").alias("__cv"))
    ranked_val = per_val.withColumn(
        "__before",
        F.coalesce(F.sum("__cv").over(w_prev), F.lit(0)).cast("double"),
    ).withColumn(
        "__midrank",
        F.col("__before") + (F.col("__cv").cast("double") + 1) / 2,
    )
    per_g = (
        per_vg.join(ranked_val.select("__v", "__midrank"), "__v")
        .groupBy("__g")
        .agg(
            F.sum(F.col("__c").cast("double") * F.col("__midrank"))
            .alias("__rg"),
            F.sum("__c").alias("__ng"),
        )
    )
    cv = F.col("__cv").cast("double")
    ties = per_val.agg(
        F.sum(cv * cv * cv - cv).alias("__tie"),
        F.sum(F.when(F.col("__cv") > 1, 1).otherwise(0)).alias("n_ties"),
    )
    agg = per_g.agg(
        F.sum(F.col("__rg") * F.col("__rg") / F.col("__ng")).alias("__s"),
        F.sum("__ng").alias("n"),
        F.count(F.lit(1)).alias("n_groups"),
    ).crossJoin(F.broadcast(ties))
    nn = F.col("n").cast("double")
    h = 12.0 / (nn * (nn + 1)) * F.col("__s") - 3 * (nn + 1)
    corr = 1 - F.col("__tie") / (nn * nn * nn - nn)
    return agg.select(
        F.round(h, 6).alias("h"),
        F.when(corr > 0, F.round(h / corr, 6)).alias("h_corrected"),
        (F.col("n_groups") - 1).cast("long").alias("df"),
        "n",
        "n_groups",
        "n_ties",
    )


def spearman_rho(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation: 1 row (rho, n, n_ties_x, n_ties_y) —
    Pearson correlation of midranks, the monotone-association readout
    that survives outliers/skew where raw Pearson (``group_trends``
    corr) doesn't.

    Scale shape: each column's midranks come from its own
    per-distinct-value aggregate (window over |distinct| rows), joined
    back by value — two narrow shuffles + one final 1-row moment
    aggregate. Midranks are half-integers, so every sum of ranks and
    rank-squares is EXACT in doubles; only the final normalized ratio
    is rounded (6 dp). NULL rho when either column is constant. Rows
    null in either column are excluded (pairwise-complete).
    """
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))

    def midranks(col: str, out: str, tie_out: str):
        per = base.groupBy(F.col(col).alias("__v")).agg(
            F.count(F.lit(1)).alias("__c"))
        w_prev = Window.orderBy("__v").rowsBetween(
            Window.unboundedPreceding, -1)
        ranked = per.withColumn(
            "__before",
            F.coalesce(F.sum("__c").over(w_prev), F.lit(0)).cast("double"),
        ).select(
            F.col("__v"),
            (F.col("__before") + (F.col("__c").cast("double") + 1) / 2)
            .alias(out),
        )
        ties = per.agg(
            F.sum(F.when(F.col("__c") > 1, 1).otherwise(0)).alias(tie_out))
        return ranked, ties

    rx, tx = midranks("__x", "__rx", "n_ties_x")
    ry, ty = midranks("__y", "__ry", "n_ties_y")
    j = (
        base.join(rx.withColumnRenamed("__v", "__x"), "__x")
        .join(ry.withColumnRenamed("__v", "__y"), "__y")
    )
    m = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__rx").alias("sx"),
        F.sum("__ry").alias("sy"),
        F.sum(F.col("__rx") * F.col("__rx")).alias("sxx"),
        F.sum(F.col("__ry") * F.col("__ry")).alias("syy"),
        F.sum(F.col("__rx") * F.col("__ry")).alias("sxy"),
    )
    nn = F.col("n").cast("double")
    den_x = nn * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = nn * F.col("syy") - F.col("sy") * F.col("sy")
    num = nn * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        m.crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            F.when(
                (den_x > 0) & (den_y > 0),
                F.round(num / F.sqrt(den_x * den_y), 6),
            ).alias("rho"),
            "n",
            "n_ties_x",
            "n_ties_y",
        )
    )


def mcnemar_test(
    df: DataFrame,
    before_col: str,
    after_col: str,
) -> DataFrame:
    """McNemar's test for paired binary outcomes: 1 row (n_pairs, b, c,
    chi2_cc, or_paired) — did the per-subject flag flip
    asymmetrically between two conditions (before/after a release,
    treated/untreated eye, first/second half of a funnel)? Only the
    DISCORDANT pairs carry information: b = (1 -> 0), c = (0 -> 1),
    continuity-corrected chi2 = (|b-c|-1)^2/(b+c) (1 dof), matched
    odds ratio b/c.

    chi2 is NULL when b + c = 0 (no discordance), or_paired NULL when
    c = 0. Input is one row per subject with two 0/1 (or boolean)
    columns — a single 1-row aggregate, no join, no window.
    """
    b1 = F.col(before_col).cast("int")
    a1 = F.col(after_col).cast("int")
    agg = df.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when((b1 == 1) & (a1 == 0), 1).otherwise(0)).alias("b"),
        F.sum(F.when((b1 == 0) & (a1 == 1), 1).otherwise(0)).alias("c"),
    )
    bb = F.col("b").cast("double")
    cc = F.col("c").cast("double")
    disc = bb + cc
    num = (F.abs(bb - cc) - 1) * (F.abs(bb - cc) - 1)
    return agg.select(
        "n_pairs",
        "b",
        "c",
        F.when(disc > 0, F.round(num / disc, 6)).alias("chi2_cc"),
        F.when(cc > 0, F.round(bb / cc, 6)).alias("or_paired"),
    )


def tdt_test(
    trios: DataFrame,
    variant_col: str,
    father_col: str,
    mother_col: str,
    child_col: str,
) -> DataFrame:
    """Transmission disequilibrium test per variant over genotyped
    trios: (variant, n_informative_trios, b_transmitted,
    c_untransmitted, tdt_chi2) — the family-based association test
    that is immune to population stratification (the confounder
    ``cmh_test`` adjusts for in case/control designs). Input is the
    per-trio dosage table ``mendel_errors`` consumes: one row per
    (variant, trio) with father/mother/child alt-dosages in {0,1,2}.

    Homozygous parents transmit deterministically (floor(gt/2) alt
    alleles); heterozygous parents are the informative ones. For a
    Mendel-CONSISTENT trio, alt transmissions from het parents
    b_trio = child - floor(f/2) - floor(m/2), untransmitted
    c_trio = (#het parents) - b_trio; McNemar-form chi2 =
    (b - c)^2 / (b + c) (1 dof) over the per-variant sums.
    Mendel-inconsistent or incomplete trios are excluded (run
    ``mendel_errors`` first for the QC rate). chi2 NULL when no het
    parents.

    Scale shape: one classification expression + one per-variant
    groupBy over the trio table — identical shuffle profile to
    ``mendel_errors``.
    """
    f_ = F.col(father_col)
    m_ = F.col(mother_col)
    c_ = F.col(child_col)
    det = F.floor(f_ / 2) + F.floor(m_ / 2)
    hets = (f_ == 1).cast("int") + (m_ == 1).cast("int")
    complete = f_.isNotNull() & m_.isNotNull() & c_.isNotNull()
    consistent = complete & (c_ >= det) & (c_ <= F.least(f_, F.lit(1)) + F.least(m_, F.lit(1)))
    b_trio = c_ - det
    per_v = (
        trios.filter(consistent & (hets > 0))
        .groupBy(F.col(variant_col).alias(variant_col))
        .agg(
            F.count(F.lit(1)).alias("n_informative_trios"),
            F.sum(b_trio).alias("b_transmitted"),
            F.sum(hets - b_trio).alias("c_untransmitted"),
        )
    )
    bb = F.col("b_transmitted").cast("double")
    cc = F.col("c_untransmitted").cast("double")
    return per_v.select(
        variant_col,
        "n_informative_trios",
        "b_transmitted",
        "c_untransmitted",
        F.when(
            bb + cc > 0,
            F.round((bb - cc) * (bb - cc) / (bb + cc), 6),
        ).alias("tdt_chi2"),
    )


def logistic_newton(
    df: DataFrame,
    x_col: str,
    y_col: str,
    iterations: int = 8,
) -> DataFrame:
    """Logistic regression MLE for ONE bounded-cardinality covariate
    plus intercept, by ``iterations`` Newton-Raphson (IRLS) steps:
    1 row (beta0, beta1, se1, wald_chi2, n, n_pos, score_norm)
    — the binary-outcome effect-size ladder next to ``cox_newton``
    (hazard) and ``odds_ratio`` (unadjusted 2x2): log-odds per unit of
    x with Wald inference.

    The covariate must have BOUNDED distinct cardinality (an integer
    grade, a dosage in {0,1,2}, a bucketed score): the data collapses
    to a per-x grid (x, n_x, pos_x) in ONE groupBy, collected once;
    every Newton step then runs over the grid on the driver — the
    cohort is scanned once, never per-iteration. Each step solves the
    2x2 normal equations

        U0 = sum(pos_x - n_x p_x),   U1 = sum(x (pos_x - n_x p_x))
        Iab = sum(x^a+b n_x p_x (1 - p_x)),  p_x = sigmoid(b0 + b1 x)
        [b0, b1] += inv([[I00, I01], [I01, I11]]) @ [U0, U1]

    from (0, 0); 8 steps reach ~1e-9 on well-conditioned grids, but
    strong effects or extreme class imbalance can need more (r11
    advice): the emitted ``score_norm`` column is the final Newton
    score norm ||U|| — ~0 when converged; raise ``iterations`` when it
    is not. Each extra step costs one pass over the grid, noise at
    any scale. The recurrence is a closed deterministic function of
    the integer grid, so a SQL oracle replays the same steps as
    chained CTEs (round-6 on the exp-touched outputs). NULL
    coefficients on a singular information matrix (constant x, empty
    input, separation driving weights to 0, or a divergent step).
    """
    grid = (
        df.select(
            F.col(x_col).cast("double").alias("__x"),
            F.col(y_col).cast("int").alias("__y"),
        )
        .filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
        .groupBy("__x")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__y").alias("__p"),
        )
    )
    return logistic_newton_from_grid(grid, iterations=iterations)


def _glm_rows(grid: DataFrame, cols: list[str]) -> list:
    """ONE collect of a bounded GLM grid: float tuples in ``cols``
    order (covariates, then counts), sorted, so the driver-side sums
    accumulate in an order that does not depend on the partition
    layout."""
    return sorted(tuple(float(r[c]) for c in cols) for r in grid.collect())


def _logistic_w(eta, counts):
    """Logistic IRLS weight and residual of a cell (n, positives)."""
    n, pos = counts[0], counts[1]
    p = 1 / (1 + _exp(-eta))
    return n * p * (1 - p), pos - n * p


def _poisson_w(eta, counts):
    """Poisson weight and residual of a cell (exposure, sum y): the
    exposure is the cell count, or its person-time for a rate model."""
    w = counts[0] * _exp(eta)
    return w, counts[1] - w


def _nb2_w(alpha: float):
    """NB2 Fisher-scoring weight and residual of a cell (n, sum y) at
    dispersion ``alpha``."""
    def weights(eta, counts):
        n, sy = counts[0], counts[1]
        mu = _exp(eta)
        return n * mu / (1 + alpha * mu), (sy - n * mu) / (1 + alpha * mu)
    return weights


def _slope_stats(fit) -> list:
    """(beta0, beta1, se1, wald_chi2) of a one-covariate
    :func:`fit_newton` fit, all None when it failed."""
    if fit is None:
        return [None] * 4
    beta, _, var = fit
    return [beta[0], beta[1], math.sqrt(var[1]), beta[1] * beta[1] / var[1]]


def _row6(spark, cols: list) -> DataFrame:
    """The 1-row result of a single-covariate GLM: a (name, value) pair
    is emitted ``F.round(value, 6)`` (Spark's half-up; NULL when the
    value is None), a Column as it is."""
    return spark.range(1).select(*[
        c if isinstance(c, Column)
        else (F.lit(None).cast("double") if c[1] is None
              else F.round(F.lit(c[1]), 6)).alias(c[0])
        for c in cols])


def _glm_multi_row(spark, d: int, fit, tail: list,
                   digits: int | None) -> DataFrame:
    """The 1-row result of a multi-covariate GLM: (beta0, beta1..d,
    se1..d, wald_chi2_1..d, *tail, score_norm) of a :func:`fit_newton`
    fit through :func:`_round`, all NULL when the fit failed. The
    round-5 default is the family's hash-determinism contract (r12
    verdict #1): moment drift of ~1e-13 against a 1e-5 rounding grid
    flips a digit with probability ~1e-8 per statistic."""
    ids = range(1, d + 1)
    names = ["beta0", *[f"beta{i}" for i in ids], *[f"se{i}" for i in ids],
             *[f"wald_chi2_{i}" for i in ids], "score_norm"]
    vals = [None] * len(names)
    if fit is not None:
        beta, u, var = fit
        vals = [_round(v, digits) for v in (
            *beta, *[math.sqrt(var[i]) for i in ids],
            *[beta[i] * beta[i] / var[i] for i in ids], score_norm(u))]
    cols = list(zip(names, vals))
    return _literal_row(spark, cols[:-1] + tail + cols[-1:])


def logistic_newton_from_grid(
    grid: DataFrame, iterations: int = 8
) -> DataFrame:
    """:func:`logistic_newton` from an already-aggregated per-x grid
    (__x, __n, __p) — the entry point for incrementally-maintained
    cohorts: the grid IS the additive sufficient statistic, so a
    streaming fold keeps (n, positives) per covariate value and this
    refits the MLE on read (streaming/glm.py finalize_logistic).

    The grid is collected once and fitted on the driver as the d = 1
    case of the shared GLM core (functions/cramer.py ``glm_moments`` +
    ``fit_newton``); the emission still goes through ``F.round`` so
    Spark's half-up rounding is unchanged."""
    rows = _glm_rows(grid, ["__x", "__n", "__p"])
    fit = fit_newton(glm_moments(rows, 1, _logistic_w), [0.0, 0.0],
                     iterations)
    b0, b1, se1, wald = _slope_stats(fit)
    return _row6(grid.sparkSession, [
        ("beta0", b0), ("beta1", b1), ("se1", se1), ("wald_chi2", wald),
        F.lit(int(sum(r[1] for r in rows))).cast("long").alias("n"),
        F.lit(int(sum(r[2] for r in rows))).cast("long").alias("n_pos"),
        ("score_norm", None if fit is None else score_norm(fit[1])),
    ])


def logistic_newton_multi(
    df: DataFrame,
    x_cols: list[str],
    y_col: str,
    iterations: int = 4,
    digits: int | None = 5,
) -> DataFrame:
    """Logistic regression MLE for d BOUNDED-cardinality covariates
    (1 <= d <= 8) plus intercept — the multi-covariate rung above
    :func:`logistic_newton` (r11 verdict #4): adjust for age + sex +
    PCs simultaneously instead of one covariate at a time. 1 row
    (beta0, beta1..betad, se1..sed, wald_chi2_1..d, n, n_pos,
    score_norm).

    Scale shape: the cohort collapses ONCE to the per-joint-covariate
    grid (x1..xd, n, pos) — the joint cardinality must be bounded (an
    age band x sex x dosage cross, a few thousand cells at most; this
    is the d-dimensional generalization of the single-covariate grid
    contract). The grid is collected once and every Newton/IRLS step
    runs on the driver over it: the (d+1)-vector score U = X'(y - np),
    the upper triangle of the information X'WX (W = diag(n p (1-p)))
    and a (d+1)x(d+1) solve by functions/cramer.py's step rule
    (explicit Cramer for d <= 3, numpy beyond). The cohort is scanned
    once, never per-iteration.

    NULL coefficients on a singular information matrix (collinear or
    constant covariates, empty input, separation). ``score_norm`` is
    the final ||U|| (~0 at convergence — raise ``iterations`` if not;
    the default 4 suits the well-conditioned grids the oracle
    exercises, matching the DuckDB replay's step count). For d = 2
    the recurrence is SQL-expressible via Cramer's rule, which is how
    the ``dx_logistic_multi`` oracle replays it, in the same operand
    order as the driver solve; ``digits=None`` emits unrounded values
    (the float-stream audit).
    """
    d = len(x_cols)
    if not 1 <= d <= 8:
        raise ValueError(f"logistic_newton_multi supports 1..8 covariates, got {d}")
    xs = [f"__x{i}" for i in range(1, d + 1)]
    lab = F.col(y_col).cast("int")
    keep = lab.isNotNull()
    for c in x_cols:
        keep = keep & F.col(c).isNotNull()
    grid = (
        df.filter(keep)
        .select(
            *[F.col(c).cast("double").alias(x) for c, x in zip(x_cols, xs)],
            lab.alias("__y"),
        )
        .groupBy(*xs)
        .agg(F.count(F.lit(1)).alias("__n"), F.sum("__y").alias("__p"))
    )
    return logistic_newton_multi_from_grid(grid, d, iterations=iterations,
                                           digits=digits)


def logistic_newton_multi_from_grid(
    grid: DataFrame, d: int, iterations: int = 4,
    digits: int | None = 5,
) -> DataFrame:
    """:func:`logistic_newton_multi` from an already-aggregated joint
    grid (__x1..__xd, __n, __p) — the grid is the additive sufficient
    statistic, so a streaming fold maintains it per joint covariate
    cell and this refits the d-covariate MLE on read
    (streaming/glm.py finalize_logistic_multi), exactly as the
    single-covariate ``logistic_newton_from_grid`` does."""
    xs = [f"__x{i}" for i in range(1, d + 1)]
    rows = _glm_rows(grid, [*xs, "__n", "__p"])
    fit = fit_newton(glm_moments(rows, d, _logistic_w), [0.0] * (d + 1),
                     iterations)
    return _glm_multi_row(grid.sparkSession, d, fit, [
        ("n", int(sum(r[d] for r in rows))),
        ("n_pos", int(sum(r[d + 1] for r in rows)))], digits)


def breslow_day(
    df: DataFrame,
    stratum_col: str,
    exposed_col: str,
    case_col: str,
) -> DataFrame:
    """Breslow-Day homogeneity test for the stratified 2x2 family:
    1 row (bd_chi2, tarone_chi2, df, n_strata, n_informative, or_mh) —
    the check that LICENSES ``cmh_test``'s pooling: CMH assumes one
    common odds ratio across strata; Breslow-Day tests exactly that
    (chi2 on K-1 df; a significant value means report per-stratum ORs,
    not the pooled one). Tarone's correction subtracts the
    score-imbalance term — the form SAS/R report.

    Per stratum with cells (a = exposed case) and margins m1 = a+b,
    n1 = a+c, t: the fitted exposed-case count ã under the common
    OR psi (Mantel-Haenszel) solves the quadratic
        (1-psi) ã² + [(t-m1-n1) + psi(m1+n1)] ã - psi m1 n1 = 0
    taking the root interior to [max(0, m1+n1-t), min(m1, n1)]
    (psi = 1 degenerates to the linear ã = m1 n1/t); variance
    Ṽ = 1/(1/ã + 1/(m1-ã) + 1/(n1-ã) + 1/(t-m1-n1+ã));
    BD chi2 = sum (a-ã)²/Ṽ, Tarone = BD - (sum(a-ã))²/sum(Ṽ).
    Strata with any zero margin are uninformative (fitted cell on the
    boundary, infinite 1/cell) and are excluded from both the sum and
    the df; NULL when or_mh is undefined or < 2 informative strata.

    Scale shape: ONE groupBy to the per-stratum 2x2 grid, a 1-row
    MH-OR aggregate broadcast back, closed-form root per stratum row,
    one bounded reduce — the corpus is scanned once, never joined.
    """
    e = F.col("__e").cast("int")
    y = F.col("__y").cast("int")
    base = df.select(
        F.col(stratum_col).alias("__s"),
        F.col(exposed_col).cast("int").alias("__e"),
        F.col(case_col).cast("int").alias("__y"),
    ).filter(F.col("__e").isNotNull() & F.col("__y").isNotNull()
             & F.col("__s").isNotNull())
    per_k = base.groupBy("__s").agg(
        F.sum(e * y).alias("a"),
        F.sum((1 - e) * y).alias("b"),
        F.sum(e * (1 - y)).alias("c"),
        F.sum((1 - e) * (1 - y)).alias("d"),
    ).localCheckpoint(eager=False)
    t = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    mh = per_k.agg(
        F.sum(F.when(t > 0, F.col("a") * F.col("d") / t).otherwise(0.0))
        .alias("__ad"),
        F.sum(F.when(t > 0, F.col("b") * F.col("c") / t).otherwise(0.0))
        .alias("__bc"),
    ).select(
        F.when(F.col("__bc") > 0, F.col("__ad") / F.col("__bc"))
        .alias("psi"))
    j = per_k.crossJoin(F.broadcast(mh))
    m1 = (F.col("a") + F.col("b")).cast("double")
    n1 = (F.col("a") + F.col("c")).cast("double")
    psi = F.col("psi")
    informative = (
        psi.isNotNull() & (m1 > 0) & (n1 > 0) & (t - m1 > 0) & (t - n1 > 0)
    )
    qa = 1 - psi
    qb = (t - m1 - n1) + psi * (m1 + n1)
    qc = -psi * m1 * n1
    disc = F.sqrt(qb * qb - 4 * qa * qc)
    r1 = (-qb + disc) / (2 * qa)
    r2 = (-qb - disc) / (2 * qa)
    lo = F.greatest(F.lit(0.0), m1 + n1 - t)
    hi = F.least(m1, n1)
    # r13 (ADVICE): the fitted cell must be STRICTLY interior to
    # (lo, hi) — when or_mh = 0 (a*d = 0 in every informative stratum)
    # or the root lands on the support boundary, both roots are
    # non-interior and 1/cell would divide by zero/negative; such a
    # stratum is uninformative, excluded exactly like a zero margin.
    fitted = F.when(
        F.abs(qa) < 1e-12, m1 * n1 / t,
    ).when((r1 > lo) & (r1 < hi), r1).when((r2 > lo) & (r2 < hi), r2)
    scored = j.select(
        "a", "psi",
        F.when(informative, fitted).alias("__fa"),
        F.when(informative, m1).alias("__m1"),
        F.when(informative, n1).alias("__n1"),
        F.when(informative, t).alias("__t"),
    )
    fa = F.col("__fa")
    vtil = 1 / (1 / fa + 1 / (F.col("__m1") - fa) + 1 / (F.col("__n1") - fa)
                + 1 / (F.col("__t") - F.col("__m1") - F.col("__n1") + fa))
    resid = F.col("a").cast("double") - fa
    agg = scored.agg(
        F.sum(F.when(fa.isNotNull(), resid * resid / vtil)).alias("__bd"),
        F.sum(F.when(fa.isNotNull(), resid)).alias("__rs"),
        F.sum(F.when(fa.isNotNull(), vtil)).alias("__vs"),
        F.sum(F.when(fa.isNotNull(), 1).otherwise(0)).alias("n_informative"),
        F.count(F.lit(1)).alias("n_strata"),
        F.max("psi").alias("__psi"),
    )
    ok = (F.col("n_informative") >= 2) & F.col("__psi").isNotNull()
    return agg.select(
        F.when(ok, F.round("__bd", 6)).alias("bd_chi2"),
        F.when(ok & (F.col("__vs") > 0), F.round(
            F.col("__bd") - F.col("__rs") * F.col("__rs") / F.col("__vs"),
            6)).alias("tarone_chi2"),
        F.when(ok, F.col("n_informative") - 1).cast("long").alias("df"),
        "n_strata", "n_informative",
        F.when(ok, F.round("__psi", 6)).alias("or_mh"),
    )


def cohen_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
) -> DataFrame:
    """Cohen's kappa inter-rater agreement for two categorical raters:
    1 row (n, n_categories, po, pe, kappa, se0, z) — chance-corrected
    agreement, THE standard readout when two annotators / two
    classifiers / a model and a gold label rate the same items
    (abstract screening, variant curation, label-quality audits).

    kappa = (po - pe) / (1 - pe) with po = observed agreement rate and
    pe = sum_c p_a(c) p_b(c) the chance rate from the marginals; se0 =
    sqrt(po(1-po))/((1-pe)sqrt(n)) is the usual null-hypothesis SE and
    z = kappa/se0 the test against kappa = 0. NULL kappa when pe = 1
    (both raters constant and equal — agreement is vacuous).

    Scale shape: ONE groupBy to the bounded (a, b) contingency grid,
    marginals and the diagonal as grid-sized aggregates — the corpus
    is scanned once; exact integer counts so a SQL oracle recomputes
    identically (round-6).
    """
    a, b = F.col(rater_a), F.col(rater_b)
    grid = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.cast("string").alias("__a"), b.cast("string").alias("__b"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .localCheckpoint(eager=False)
    )
    tot = grid.agg(F.sum("__n").alias("n")).collect()[0].n or 0
    if tot == 0:
        return grid.sparkSession.range(1).select(
            F.lit(0).cast("long").alias("n"),
            F.lit(0).cast("long").alias("n_categories"),
            *[F.lit(None).cast("double").alias(c)
              for c in ("po", "pe", "kappa", "se0", "z")])
    ma = grid.groupBy("__a").agg(F.sum("__n").alias("na"))
    mb = grid.groupBy("__b").agg(F.sum("__n").alias("nb"))
    pe_df = ma.join(mb, ma["__a"] == mb["__b"]).agg(
        F.sum(F.col("na").cast("double") * F.col("nb")
              / F.lit(float(tot * tot))).alias("pe"),
    )
    # r13 (ADVICE): the label space is the UNION of both raters'
    # observed levels — counting rater a's levels alone under-reports
    # a category used exclusively by rater b.
    cats = (
        grid.select(F.col("__a").alias("__c"))
        .unionByName(grid.select(F.col("__b").alias("__c")))
        .agg(F.countDistinct("__c").alias("ka"))
    )
    stats = grid.agg(
        F.sum("__n").alias("n"),
        (F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__n"))
               .otherwise(0)).cast("double") / F.lit(float(tot))).alias("po"),
    ).crossJoin(F.broadcast(cats)).crossJoin(F.broadcast(pe_df))
    po, pe = F.col("po"), F.coalesce(F.col("pe"), F.lit(0.0))
    ok = pe < 1.0
    se0 = F.sqrt(po * (1 - po)) / ((1 - pe) * F.sqrt(F.col("n").cast("double")))
    return stats.select(
        "n",
        F.col("ka").alias("n_categories"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.when(ok, F.round((po - pe) / (1 - pe), 6)).alias("kappa"),
        F.when(ok & (po > 0) & (po < 1), F.round(se0, 6)).alias("se0"),
        F.when(ok & (po > 0) & (po < 1),
               F.round(((po - pe) / (1 - pe)) / se0, 6)).alias("z"),
    )


def wilson_ci(
    df: DataFrame,
    group_col: str,
    success_col: str,
    z: float = 1.959964,
) -> DataFrame:
    """Per-group Wilson score interval for a binomial proportion:
    (group, n, k, phat, ci_lo, ci_hi) — the interval that actually
    holds its coverage at small n and extreme rates, where the Wald
    interval collapses (the standard epi/monitoring choice: adverse
    event rates, per-segment conversion, per-batch defect rates).

    center = (phat + z^2/2n) / (1 + z^2/n),
    halfwidth = z sqrt(phat(1-phat)/n + z^2/4n^2) / (1 + z^2/n);
    closed-form per group from exact integer (n, k) — one groupBy,
    no window, oracle recomputes identically (round-6).
    """
    y = F.col(success_col).cast("int")
    g = (
        df.filter(y.isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(y).alias("k"))
    )
    n = F.col("n").cast("double")
    phat = F.col("k").cast("double") / n
    z2 = float(z * z)
    denom = 1 + F.lit(z2) / n
    center = (phat + F.lit(z2) / (2 * n)) / denom
    half = (F.lit(float(z))
            * F.sqrt(phat * (1 - phat) / n + F.lit(z2) / (4 * n * n))
            / denom)
    return g.select(
        "grp", "n", "k",
        F.round(phat, 6).alias("phat"),
        F.round(F.greatest(center - half, F.lit(0.0)), 6).alias("ci_lo"),
        F.round(F.least(center + half, F.lit(1.0)), 6).alias("ci_hi"),
    )


def dummy_encode(
    df: DataFrame,
    col: str,
    prefix: str | None = None,
    max_levels: int = 32,
) -> tuple[DataFrame, list[str]]:
    """Reference-coded indicator columns for a categorical covariate —
    the bridge from a string/enum column to the multi-covariate
    fitters (``logistic_newton_multi`` / ``poisson_newton_multi`` /
    ``cox_newton_multi`` take numeric covariates only). Returns
    ``(df_with_indicators, new_column_names)``: k-1 columns
    ``{prefix}_{level}`` for the k observed levels sorted ascending,
    the FIRST level as the reference (all-zeros row), NULL category
    rows get NULL indicators so the fitters' null-filter drops them.

    One distinct-aggregate to the level list (collected, bounded by
    ``max_levels`` — raises beyond it: one-hot at unbounded
    cardinality is a modeling error, hash or bucket first), then pure
    column expressions — no join, no shuffle.
    """
    prefix = prefix or col
    levels = [
        r.v for r in
        df.select(F.col(col).alias("v")).filter(F.col("v").isNotNull())
        .distinct().orderBy("v").limit(max_levels + 1).collect()
    ]
    if len(levels) > max_levels:
        raise ValueError(
            f"dummy_encode: {col} has more than {max_levels} levels — "
            "hash or bucket the category first (one-hot at unbounded "
            "cardinality is quadratic trouble downstream)")
    if not levels:
        return df, []
    names = []
    out = df
    for lv in levels[1:]:
        name = f"{prefix}_{lv}"
        out = out.withColumn(
            name,
            F.when(F.col(col).isNull(), F.lit(None).cast("double"))
            .when(F.col(col) == F.lit(lv), 1.0).otherwise(0.0))
        names.append(name)
    return out, names


def poisson_newton_multi(
    df: DataFrame,
    x_cols: list[str],
    y_col: str,
    iterations: int = 4,
    digits: int | None = 5,
) -> DataFrame:
    """Poisson (log-link) regression MLE for d BOUNDED-cardinality
    covariates (1 <= d <= 8) plus intercept — completes the
    multi-covariate GLM ladder next to :func:`logistic_newton_multi`
    (binary) and ``cox_newton_multi`` (hazards): log rate per unit of
    each covariate, jointly. 1 row (beta0, beta1..betad, se1..sed,
    wald_chi2_1..d, n, y_total, score_norm).

    Same driver-side factoring as the logistic twin: ONE pass to the
    joint grid (x1..xd, n, sum_y), collected once; every step computes
    U = X'(y - n mu) and the upper triangle of X'WX (W = diag(n mu),
    mu = exp(x . b)) over the grid and solves by functions/cramer.py's
    step rule. Starts from (ln(ybar), 0..0) — the saturated-intercept
    start that keeps exp() in range at any data scale. NULL on
    singular information or a divergent step. For d = 2 the
    recurrence is SQL-expressible via Cramer's rule (the
    ``dx_poisson_multi`` oracle), and the driver solve IS that Cramer
    arithmetic, with round-5 emission (r12 verdict #1).
    """
    d = len(x_cols)
    if not 1 <= d <= 8:
        raise ValueError(f"poisson_newton_multi supports 1..8 covariates, got {d}")
    xs = [f"__x{i}" for i in range(1, d + 1)]
    yv = F.col(y_col).cast("double")
    keep = yv.isNotNull()
    for c in x_cols:
        keep = keep & F.col(c).isNotNull()
    grid = (
        df.filter(keep)
        .select(
            *[F.col(c).cast("double").alias(x) for c, x in zip(x_cols, xs)],
            yv.alias("__y"),
        )
        .groupBy(*xs)
        .agg(F.count(F.lit(1)).alias("__n"), F.sum("__y").alias("__sy"))
    )
    rows = _glm_rows(grid, [*xs, "__n", "__sy"])
    n_obs = int(sum(r[d] for r in rows))
    y_tot = sum((r[d + 1] for r in rows), 0.0)
    # saturated-intercept start: the oracle's ln(sum(sy)/sum(n)), 0 for
    # an all-zero y
    start = [math.log(y_tot / n_obs) if y_tot > 0 else 0.0] + [0.0] * d
    fit = fit_newton(glm_moments(rows, d, _poisson_w), start, iterations)
    return _glm_multi_row(df.sparkSession, d, fit,
                          [("n", n_obs), ("y_total", y_tot)], digits)


def fisher_exact_2x2(
    df: DataFrame,
    exposed_col: str,
    case_col: str,
    rel_tol: float = 1e-7,
) -> DataFrame:
    """Fisher's EXACT test for one 2x2 table: 1 row (a, b, c, d, n,
    p_two_sided, p_left, p_right) — the small-count association test
    the chi-square family (``allelic_assoc_chi2``, ``cmh_test``)
    cannot give when expected cells are tiny (rare variants, rare
    adverse events).

    a = exposed cases, b = exposed controls, c = unexposed cases,
    d = unexposed controls (booleans/0-1 ints accepted). The
    hypergeometric pmf over the support k in [max(0, c1-r2),
    min(r1, c1)] is built WITHOUT factorials from the neighbour
    ratio pmf(k+1)/pmf(k) = (r1-k)(c1-k) / ((k+1)(r2-c1+k+1)):
    ln-weights are a running prefix sum of ln-ratios over the ordered
    support (deterministic sequential order, identical in any SQL
    replay), shifted by their max before exp so the normalization
    never overflows. Two-sided p sums every outcome whose pmf is <=
    pmf(observed) * (1 + rel_tol) (the standard implementation
    tolerance, same as R's); p_left / p_right are the one-sided tails.

    Scale shape: ONE corpus aggregate to the 4 cell counts; the
    support table is min(r1, c1) + 1 rows built by exploding a
    sequence from the 1-row counts — window + aggregate over that
    bounded table only. p-values are exact probabilities (round-9).
    """
    e1 = F.col(exposed_col).cast("int")
    y1 = F.col(case_col).cast("int")
    counts = df.agg(
        F.sum(F.when((e1 == 1) & (y1 == 1), 1).otherwise(0)).alias("a"),
        F.sum(F.when((e1 == 1) & (y1 == 0), 1).otherwise(0)).alias("b"),
        F.sum(F.when((e1 == 0) & (y1 == 1), 1).otherwise(0)).alias("c"),
        F.sum(F.when((e1 == 0) & (y1 == 0), 1).otherwise(0)).alias("d"),
    )
    return fisher_exact_from_counts(counts, rel_tol=rel_tol)


def fisher_exact_from_counts(
    counts: DataFrame, rel_tol: float = 1e-7
) -> DataFrame:
    """:func:`fisher_exact_2x2` from a 1-row (a, b, c, d) cell-count
    DataFrame — the entry point when the 2x2 is already known (e.g. an
    assay deriving implicit hom-ref margins arithmetically, or a
    maintained counter table)."""
    counts = counts.localCheckpoint(eager=False)
    r1 = F.col("a") + F.col("b")
    r2 = F.col("c") + F.col("d")
    c1 = F.col("a") + F.col("c")
    kmin = F.greatest(F.lit(0), c1 - r2)
    kmax = F.least(r1, c1)
    supp = counts.select(
        "a", "b", "c", "d",
        r1.alias("__r1"), r2.alias("__r2"), c1.alias("__c1"),
        F.explode(F.sequence(kmin, kmax)).alias("__k"),
    )
    # ln pmf(k+1) - ln pmf(k) folded as a prefix sum from the support
    # floor; ratio terms are guarded by the support bounds (never 0/0).
    kk = F.col("__k").cast("double")
    prev_ratio = F.when(
        F.col("__k") == F.greatest(F.lit(0), F.col("__c1") - F.col("__r2")),
        F.lit(0.0),
    ).otherwise(
        F.log((F.col("__r1") - kk + 1) * (F.col("__c1") - kk + 1))
        - F.log(kk * (F.col("__r2") - F.col("__c1") + kk))
    )
    w_pre = Window.orderBy("__k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    lw = supp.withColumn("__lnu", F.sum(prev_ratio).over(w_pre))
    lw = lw.withColumn("__u", F.exp(F.col("__lnu") - F.max("__lnu").over(w_all)))
    obs = F.max(F.when(F.col("__k") == F.col("a"), F.col("__lnu"))).over(w_all)
    lw = lw.withColumn("__lnu_obs", obs)
    agg = lw.agg(
        F.max("a").alias("a"), F.max("b").alias("b"),
        F.max("c").alias("c"), F.max("d").alias("d"),
        F.sum("__u").alias("__tot"),
        F.sum(F.when(F.col("__lnu") <= F.col("__lnu_obs") + F.lit(rel_tol),
                     F.col("__u")).otherwise(0.0)).alias("__le_obs"),
        F.sum(F.when(F.col("__k") <= F.col("a"), F.col("__u")).otherwise(0.0))
        .alias("__left"),
        F.sum(F.when(F.col("__k") >= F.col("a"), F.col("__u")).otherwise(0.0))
        .alias("__right"),
    )
    return agg.select(
        "a", "b", "c", "d",
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("n"),
        F.round(F.least(F.col("__le_obs") / F.col("__tot"), F.lit(1.0)), 9)
        .alias("p_two_sided"),
        F.round(F.least(F.col("__left") / F.col("__tot"), F.lit(1.0)), 9)
        .alias("p_left"),
        F.round(F.least(F.col("__right") / F.col("__tot"), F.lit(1.0)), 9)
        .alias("p_right"),
    )


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Friedman test for k related treatments over n blocks: 1 row
    (chi2_f, df, n_blocks, k) — the repeated-measures sibling of
    ``kruskal_wallis`` (each block supplies one observation per
    treatment; ranking WITHIN blocks removes the block effect the
    pooled rank tests would smear).

    Input is ONE row per (block, treatment) — pre-aggregate first.
    Midranks within each block handle ties; the general tie-robust
    form is used:
    chi2_F = (k-1) * (sum_j R_j^2 - n^2 k (k+1)^2 / 4)
             / (sum_ij r_ij^2 - n k (k+1)^2 / 4)
    which reduces to the classic 12/(nk(k+1)) formula when tie-free.
    NULL chi2 when the denominator vanishes (all treatments tied in
    every block). Blocks missing any treatment are EXCLUDED (complete-
    block design).

    Scale shape: per-(block, value) counts -> block-partitioned
    cumulative window for midranks (each partition is k rows), one
    per-treatment aggregate, one 1-row reduce. Midranks are
    half-integers: every rank moment is exact.
    """
    base = df.select(
        F.col(block_col).alias("__b"),
        F.col(treatment_col).alias("__t"),
        F.col(value_col).cast("double").alias("__v"),
    ).filter(F.col("__v").isNotNull())
    k_tab = base.groupBy("__b").agg(F.count(F.lit(1)).alias("__k"))
    k_mode = k_tab.groupBy("__k").agg(
        F.count(F.lit(1)).alias("__nb"))
    # complete blocks only: k = max treatment count observed
    k_max = k_mode.agg(F.max("__k").alias("k")).localCheckpoint(eager=False)
    complete = base.join(
        k_tab.join(
            F.broadcast(k_max), k_tab["__k"] == k_max["k"], "left_semi"
        ).select("__b"),
        "__b", "left_semi")
    per_bv = complete.groupBy("__b", "__v").agg(
        F.count(F.lit(1)).alias("__c"))
    w_prev = Window.partitionBy("__b").orderBy("__v").rowsBetween(
        Window.unboundedPreceding, -1)
    ranked_v = per_bv.withColumn(
        "__before",
        F.coalesce(F.sum("__c").over(w_prev), F.lit(0)).cast("double"),
    ).withColumn(
        "__midrank",
        F.col("__before") + (F.col("__c").cast("double") + 1) / 2,
    )
    r = complete.join(
        ranked_v.select("__b", "__v", "__midrank"), ["__b", "__v"])
    per_t = r.groupBy("__t").agg(
        F.sum("__midrank").alias("__rj"),
        F.count(F.lit(1)).alias("__nj"),
    )
    tot = r.agg(
        F.sum(F.col("__midrank") * F.col("__midrank")).alias("__a"),
        F.countDistinct("__b").alias("n_blocks"),
    )
    agg = per_t.agg(
        F.sum(F.col("__rj") * F.col("__rj")).alias("__s"),
        F.count(F.lit(1)).alias("k"),
    ).crossJoin(F.broadcast(tot))
    nn = F.col("n_blocks").cast("double")
    kk = F.col("k").cast("double")
    c_term = nn * kk * (kk + 1) * (kk + 1) / 4
    num = (kk - 1) * (F.col("__s") - nn * c_term)
    den = F.col("__a") - c_term
    return agg.select(
        F.when(den > 0, F.round(num / den, 6)).alias("chi2_f"),
        (F.col("k") - 1).cast("long").alias("df"),
        "n_blocks",
        "k",
    )


def cochran_q(df: DataFrame, flag_cols: list[str]) -> DataFrame:
    """Cochran's Q test for k paired binary outcomes per subject: 1 row
    (q, df, n_subjects, n_informative) — the k-ary generalization of
    ``mcnemar_test`` (did the success rate differ across k conditions
    measured on the SAME subjects?).

    Q = k (k-1) * sum_j (C_j - N/k)^2 / (k * sum_i R_i - sum_i R_i^2)
    with C_j the per-condition success counts, R_i the per-subject
    success counts, N the grand total. Subjects with all-0 or all-k
    rows contribute nothing to either side (standard). NULL q when no
    subject is discordant. Exact: every moment is an integer sum; the
    single division is the last operation (round-6).

    Scale shape: one corpus aggregate over k conditional sums plus the
    per-subject row-sum moments folded in the SAME pass — no window,
    no join.
    """
    k = len(flag_cols)
    if k < 2:
        raise ValueError("cochran_q needs >= 2 flag columns")
    flags = [F.col(c).cast("int") for c in flag_cols]
    ri = flags[0]
    for f_ in flags[1:]:
        ri = ri + f_
    aggs = [F.sum(f_).alias(f"__c{j}") for j, f_ in enumerate(flags)]
    agg = df.agg(
        *aggs,
        F.sum(ri).alias("__rsum"),
        F.sum(ri * ri).alias("__rsq"),
        F.count(F.lit(1)).alias("n_subjects"),
        F.sum(F.when((ri > 0) & (ri < k), 1).otherwise(0))
        .alias("n_informative"),
    )
    kk = F.lit(float(k))
    nb = F.col("__rsum").cast("double") / kk
    dev = None
    for j in range(k):
        d = (F.col(f"__c{j}").cast("double") - nb)
        term = d * d
        dev = term if dev is None else dev + term
    den = kk * F.col("__rsum").cast("double") - F.col("__rsq").cast("double")
    return agg.select(
        F.when(den > 0, F.round(kk * (kk - 1) * dev / den, 6)).alias("q"),
        F.lit(k - 1).cast("long").alias("df"),
        "n_subjects",
        "n_informative",
    )


def poisson_newton(
    df: DataFrame,
    x_col: str,
    y_col: str,
    iterations: int = 4,
) -> DataFrame:
    """Poisson (log-link) regression MLE for ONE bounded-cardinality
    covariate plus intercept by ``iterations`` unrolled Newton steps:
    1 row (beta0, beta1, rate_ratio, se1, wald_chi2, n, y_total) — the
    count-outcome member of the GLM ladder (``logistic_newton`` for
    binary, ``cox_newton`` for hazards): log rate per unit of x.

    The per-x grid (x, n_x, sum_y_x) is built in ONE corpus pass; each
    Newton step solves the 2x2 normal equations with mu_x =
    exp(b0 + b1 x):
        U0 = sum(sum_y_x - n_x mu_x),  U1 = sum(x (sum_y_x - n_x mu_x))
        Iab = sum(x^(a+b) n_x mu_x)
    from (b0, b1) = (ln(ybar), 0) — the saturated-intercept start that
    keeps exp() in range for any data scale. NULL on singular
    information (constant x / empty input). The recurrence is a closed
    deterministic function of the integer grid; a SQL oracle replays
    the identical chained steps (round-6).
    """
    grid = (
        df.select(
            F.col(x_col).cast("double").alias("__x"),
            F.col(y_col).cast("double").alias("__y"),
        )
        .filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
        .groupBy("__x")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__y").alias("__sy"),
        )
    )
    return poisson_newton_from_grid(grid, iterations=iterations)


def poisson_newton_from_grid(
    grid: DataFrame, iterations: int = 4
) -> DataFrame:
    """:func:`poisson_newton` from an already-aggregated per-x grid
    (__x, __n, __sy) — streaming-maintainable entry point (the grid
    counters are additive; streaming/glm.py finalize_poisson refits
    on read). The d = 1 case of the shared GLM core, emitted through
    ``F.round`` (see :func:`logistic_newton_from_grid`)."""
    rows = _glm_rows(grid, ["__x", "__n", "__sy"])
    n_tot = int(sum(r[1] for r in rows))
    sy_tot = sum((r[2] for r in rows), 0.0)
    start = [math.log(sy_tot / n_tot) if sy_tot > 0 else 0.0, 0.0]
    fit = fit_newton(glm_moments(rows, 1, _poisson_w), start, iterations)
    b0, b1, se1, wald = _slope_stats(fit)
    return _row6(grid.sparkSession, [
        ("beta0", b0), ("beta1", b1),
        ("rate_ratio", None if fit is None else _exp(b1)),
        ("se1", se1), ("wald_chi2", wald),
        F.lit(n_tot).cast("long").alias("n"), ("y_total", sy_tot),
    ])


def negbin_newton(
    df: DataFrame,
    x_col: str,
    y_col: str,
    iterations: int = 4,
) -> DataFrame:
    """Negative-binomial (NB2, log link) regression for ONE
    bounded-cardinality covariate plus intercept — the OVERDISPERSION
    rung above :func:`poisson_newton`: real count data (orders per
    customer, reads per gene, events per user) almost always has
    var > mean, which deflates Poisson SEs and fabricates
    significance. 1 row (beta0, beta1, rate_ratio, se1, wald_chi2,
    alpha, n, y_total, score_norm).

    Two-stage moment/Fisher chain over the per-x grid, collected once
    and fitted on the driver: (1) fit Poisson by ``iterations`` Newton
    steps (mu0); (2) estimate the dispersion by the Cameron-Trivedi
    moment equation
        alpha = sum[(y - mu0)^2 - mu0] / sum(mu0^2)
    (clamped at 0 — per-cell sums need the y^2 counter, so the grid is
    (x, n, sy, syy)); (3) refit by ``iterations`` Fisher-scoring steps
    with NB2 weights w = n mu/(1 + alpha mu) and score
    r = (sy - n mu)/(1 + alpha mu), starting FROM the Poisson
    solution. This is the standard two-stage MoM-dispersion NB (not
    full ML in alpha, which needs digamma terms no SQL oracle can
    replay); se1/wald come from the final NB information. alpha ~ 0
    collapses the whole chain to Poisson (property-tested). The
    recurrence is a closed deterministic function of the grid, so the
    ``dx_negbin`` oracle replays the identical chain; NULL
    coefficients on singular information or a divergent step.
    """
    grid = (
        df.select(
            F.col(x_col).cast("double").alias("__x"),
            F.col(y_col).cast("double").alias("__y"),
        )
        .filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
        .groupBy("__x")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__y").alias("__sy"),
            F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
        )
    )
    return negbin_newton_from_grid(grid, iterations=iterations)


def negbin_newton_from_grid(
    grid: DataFrame, iterations: int = 4
) -> DataFrame:
    """:func:`negbin_newton` from an already-aggregated per-x grid
    (__x, __n, __sy, __syy) — all three counters are additive (the y^2
    sum is what the moment dispersion needs), so a streaming fold
    maintains them and this refits the NB2 chain on read
    (streaming/glm.py finalize_negbin). Two ``fit_newton`` calls over
    the collected grid (Poisson weights, then NB2 weights) around the
    moment-dispersion pass, emitted through ``F.round``."""
    rows = _glm_rows(grid, ["__x", "__n", "__sy", "__syy"])
    n_tot = int(sum(r[1] for r in rows))
    sy_tot = sum((r[2] for r in rows), 0.0)
    # stage 1: Poisson from the saturated-intercept start
    start = [math.log(sy_tot / n_tot) if sy_tot > 0 else 0.0, 0.0]
    fit = fit_newton(glm_moments(rows, 1, _poisson_w), start, iterations)
    if fit is not None:
        # stage 2: moment dispersion at the Poisson fit — per cell,
        # sum((y - mu)^2) = syy - 2 mu sy + n mu^2 (mu constant within x)
        (b0, b1), num, den = fit[0], 0.0, 0.0
        for x, nc, sy, syy in rows:
            mu = _exp(b0 + b1 * x)
            pearson = syy - 2 * mu * sy + nc * mu * mu
            num += pearson - nc * mu
            den += nc * mu * mu
        alpha = num / den if den > 0 and num > 0 else 0.0
        # stage 3: NB2 Fisher scoring from the Poisson solution
        fit = fit_newton(glm_moments(rows, 1, _nb2_w(alpha)), fit[0],
                         iterations)
    b0, b1, se1, wald = _slope_stats(fit)
    ok = fit is not None
    return _row6(grid.sparkSession, [
        ("beta0", b0), ("beta1", b1),
        ("rate_ratio", _exp(b1) if ok else None),
        ("se1", se1), ("wald_chi2", wald), ("alpha", alpha if ok else None),
        F.lit(n_tot).cast("long").alias("n"), ("y_total", sy_tot),
        ("score_norm", score_norm(fit[1]) if ok else None),
    ])


def haplotype_em(
    geno: DataFrame,
    sample_col: str,
    variant_col: str,
    gt_col: str,
    variant_a,
    variant_b,
    iterations: int = 5,
) -> DataFrame:
    """Two-locus haplotype frequency estimation by ``iterations``
    unrolled EM steps (the Excoffier-Slatkin / Hill 1974 gene-counting
    algorithm for a pair of biallelic sites): 1 row (p11, p10, p01,
    p00, d, d_prime, r2, n_samples, n_double_het) — the PHASED
    linkage readout ``ld_r2``'s genotype-correlation approximation
    can't give: true gametic D/D' from unphased dosages.

    Only the double-heterozygote cell is phase-ambiguous; the E-step
    splits it with f = p11 p00 / (p11 p00 + p10 p01), the M-step
    re-normalizes the expected haplotype counts over 2N gametes.
    Start at linkage equilibrium (p = product of allele frequencies).
    The whole recurrence runs on a 1-row, 9-cell genotype-count
    aggregate; each EM step carries the state through an aggregate
    barrier (the ``cox_newton`` pattern — naively nesting the step
    expressions would grow the Catalyst tree exponentially in the
    iteration count). A SQL oracle replays the identical chained
    steps (round-6).

    Scale shape: ONE self-join of the genotype table restricted to the
    two variants (equi-join on the sample key, each side pre-filtered
    to one variant — two narrow scans), one 9-way conditional-sum
    aggregate, then driver-free constant-time iteration. Samples
    missing either genotype are excluded.
    """
    a = geno.filter(F.col(variant_col) == F.lit(variant_a)).select(
        F.col(sample_col).alias("__s"), F.col(gt_col).alias("__ga"))
    b = geno.filter(F.col(variant_col) == F.lit(variant_b)).select(
        F.col(sample_col).alias("__s"), F.col(gt_col).alias("__gb"))
    j = a.join(b, "__s").filter(
        F.col("__ga").isNotNull() & F.col("__gb").isNotNull())

    def cell(i, k):
        return F.sum(
            F.when((F.col("__ga") == i) & (F.col("__gb") == k), 1)
            .otherwise(0)
        ).alias(f"n{i}{k}")

    counts = j.agg(
        *[cell(i, k) for i in (0, 1, 2) for k in (0, 1, 2)],
        F.count(F.lit(1)).alias("n_samples"),
    )
    # constant 1-row state: bases + double-het count + gamete total +
    # allele freqs, computed ONCE (lineage cut so the genotype join
    # runs once, not per EM step)
    n = F.col("n_samples").cast("double")
    two_n = 2 * n
    base11 = (2 * F.col("n22") + F.col("n21") + F.col("n12")).cast("double")
    base10 = (2 * F.col("n20") + F.col("n21") + F.col("n10")).cast("double")
    base01 = (2 * F.col("n02") + F.col("n12") + F.col("n01")).cast("double")
    base00 = (2 * F.col("n00") + F.col("n10") + F.col("n01")).cast("double")
    dh = F.col("n11").cast("double")
    p_a = (base11 + base10 + dh) / two_n
    p_b = (base11 + base01 + dh) / two_n
    state = counts.select(
        base11.alias("b11"), base10.alias("b10"),
        base01.alias("b01"), base00.alias("b00"),
        dh.alias("dh"), two_n.alias("tn"),
        p_a.alias("pa"), p_b.alias("pb"),
        "n_samples", F.col("n11").alias("n_double_het"),
        # linkage-equilibrium start
        (p_a * p_b).alias("p11"),
        (p_a * (1 - p_b)).alias("p10"),
        ((1 - p_a) * p_b).alias("p01"),
        ((1 - p_a) * (1 - p_b)).alias("p00"),
    ).localCheckpoint(eager=False)
    carried = ["b11", "b10", "b01", "b00", "dh", "tn", "pa", "pb",
               "n_samples", "n_double_het"]
    for _ in range(iterations):
        den = F.col("p11") * F.col("p00") + F.col("p10") * F.col("p01")
        f_ = F.when(
            den > 0, F.col("p11") * F.col("p00") / den
        ).otherwise(F.lit(0.5))
        # aggregate barrier: keeps each step's expressions step-sized
        # instead of letting projection collapse inline 5 rounds of
        # nested f into one exponential tree
        state = state.withColumn("__f", f_).agg(
            *[F.max(c).alias(c) for c in carried],
            F.max((F.col("b11") + F.col("__f") * F.col("dh")) / F.col("tn"))
            .alias("p11"),
            F.max((F.col("b10") + (1 - F.col("__f")) * F.col("dh"))
                  / F.col("tn")).alias("p10"),
            F.max((F.col("b01") + (1 - F.col("__f")) * F.col("dh"))
                  / F.col("tn")).alias("p01"),
            F.max((F.col("b00") + F.col("__f") * F.col("dh")) / F.col("tn"))
            .alias("p00"),
        )
    pa, pb = F.col("pa"), F.col("pb")
    d = F.col("p11") - pa * pb
    d_max = F.when(
        d >= 0,
        F.least(pa * (1 - pb), (1 - pa) * pb),
    ).otherwise(F.least(pa * pb, (1 - pa) * (1 - pb)))
    denom = pa * (1 - pa) * pb * (1 - pb)
    return state.select(
        F.round("p11", 6).alias("p11"),
        F.round("p10", 6).alias("p10"),
        F.round("p01", 6).alias("p01"),
        F.round("p00", 6).alias("p00"),
        F.round(d, 6).alias("d"),
        F.when(d_max > 0, F.round(F.abs(d) / d_max, 6)).alias("d_prime"),
        F.when(denom > 0, F.round(d * d / denom, 6)).alias("r2"),
        "n_samples",
        "n_double_het",
    )


def site_frequency_spectrum(
    geno: DataFrame,
    variant_col: str,
    gt_col: str,
    folded: bool = True,
) -> DataFrame:
    """Site frequency spectrum: (allele_count, n_variants, frac) — the
    population-genetics summary histogram (how many variants are
    singletons, doubletons, ...) whose shape diagnoses demography and
    selection (an excess of rare alleles = expansion/purifying
    selection; Tajima's D condenses this curve into one number).

    ``folded=True`` (default) uses the MINOR allele count
    min(AC, 2N - AC) — the ancestral allele is usually unknown.
    Variants with missing genotypes fold over their observed 2N.

    Scale shape: one per-variant aggregate (AC, 2N), one histogram
    groupBy over the |variants|-bounded result, one 1-row total
    broadcast for the fraction — the genotype corpus streams once.
    """
    per_v = (
        geno.filter(F.col(gt_col).isNotNull())
        .groupBy(variant_col)
        .agg(
            F.sum(gt_col).alias("__ac"),
            (2 * F.count(F.lit(1))).alias("__an"),
        )
    )
    return sfs_from_counts(per_v, folded=folded)


def sfs_from_counts(per_v: DataFrame, folded: bool = True) -> DataFrame:
    """:func:`site_frequency_spectrum` from an already-aggregated
    per-variant (__ac, __an) allele-count table — the entry point for
    sparse genotype stores whose hom-ref class is implicit (the assay
    derives AC from non-ref mapping rows and AN from the cohort size
    arithmetically, never materializing per-subject rows)."""
    ac = (
        F.least(F.col("__ac"), F.col("__an") - F.col("__ac"))
        if folded else F.col("__ac")
    )
    hist = per_v.select(ac.alias("allele_count")).groupBy(
        "allele_count").agg(F.count(F.lit(1)).alias("n_variants"))
    tot = hist.agg(F.sum("n_variants").alias("__t"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "allele_count",
            "n_variants",
            F.round(F.col("n_variants") / F.col("__t"), 6).alias("frac"),
        )
    )


def hwe_exact(per_v: DataFrame) -> DataFrame:
    """EXACT Hardy-Weinberg test per variant (Wigginton, Cutler &
    Abecasis 2005): input per-variant genotype counts (variant,
    n_hom_ref, n_het, n_hom_alt) -> (variant, n_het_obs, n_support,
    p_exact) — the small-cohort/rare-variant QC gate ``hwe_chi2``'s
    asymptotic chi-square gets wrong exactly where it matters most
    (expected het counts < 5).

    The het-count distribution conditional on the allele counts obeys
    the factorial-free neighbour recurrence
    P(nh+2)/P(nh) = 4 n_AA(nh) n_BB(nh) / ((nh+2)(nh+1)), so each
    variant's support (nh = rare%2, rare%2+2, ..., min(rare, 2N-rare))
    builds as a ln-ratio prefix sum — the same machinery as
    ``fisher_exact_2x2``, windowed PER VARIANT. p_exact sums every
    outcome with pmf <= pmf(observed) * (1 + 1e-7) (the SNP-HWE
    convention); monomorphic variants have a single-point support and
    report p = 1 by construction.

    Scale shape: the support explode emits at most rare_allele_count/2
    rows per variant (bounded by the cohort, not the corpus), and all
    windows partition by variant — a million-variant biobank runs one
    explode + two variant-keyed window passes.
    """
    base = per_v.select(
        F.col("variant"),
        F.col("n_het").alias("__nh_obs"),
        (2 * F.col("n_hom_ref") + F.col("n_het")).alias("__na"),
        (2 * (F.col("n_hom_ref") + F.col("n_het") + F.col("n_hom_alt")))
        .alias("__an"),
    )
    rare = F.least(F.col("__na"), F.col("__an") - F.col("__na"))
    lo = rare % 2
    hi = F.least(rare, F.col("__an") - rare)
    supp = base.select(
        "variant", "__nh_obs",
        rare.alias("__rare"),
        (F.col("__an") / 2).cast("long").alias("__n"),
        F.explode(F.sequence(lo, hi, F.lit(2))).alias("__nh"),
    )
    # ln ratio of the step (nh-2 -> nh): counts AT nh-2
    naa_prev = (F.col("__rare") - (F.col("__nh") - 2)) / 2
    nbb_prev = F.col("__n") - (F.col("__nh") - 2) - naa_prev
    step = F.when(
        F.col("__nh") == F.col("__rare") % 2, F.lit(0.0)
    ).otherwise(
        F.log(4 * naa_prev * nbb_prev)
        - F.log(F.col("__nh").cast("double") * (F.col("__nh") - 1))
    )
    w_pre = Window.partitionBy("variant").orderBy("__nh").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("variant")
    lw = supp.withColumn("__lnu", F.sum(step).over(w_pre))
    lw = lw.withColumn(
        "__u", F.exp(F.col("__lnu") - F.max("__lnu").over(w_all)))
    obs = F.max(
        F.when(F.col("__nh") == F.col("__nh_obs"), F.col("__lnu"))
    ).over(w_all)
    lw = lw.withColumn("__lnu_obs", obs)
    agg = lw.groupBy("variant").agg(
        F.max("__nh_obs").alias("n_het_obs"),
        F.count(F.lit(1)).alias("n_support"),
        F.sum("__u").alias("__tot"),
        F.sum(
            F.when(F.col("__lnu") <= F.col("__lnu_obs") + F.lit(1e-7),
                   F.col("__u")).otherwise(0.0)
        ).alias("__le"),
    )
    return agg.select(
        "variant", "n_het_obs", "n_support",
        F.round(F.least(F.col("__le") / F.col("__tot"), F.lit(1.0)), 9)
        .alias("p_exact"),
    )


def fisher_exact_scan(
    counts: DataFrame,
    group_col: str,
    rel_tol: float = 1e-7,
) -> DataFrame:
    """Fisher's exact test for MANY 2x2 tables at once: input one row
    per group (group, a, b, c, d) -> (group, a, b, c, d, n,
    p_two_sided) — the per-variant / per-segment exact-association
    scan (``fisher_exact_2x2`` is the single-table form; a GWAS wants
    this one). Same factorial-free neighbour-ratio prefix sum, with
    the support explode and every window PARTITIONED BY the group key
    — a million-variant scan is one explode plus two group-keyed
    window passes, no per-group driver loop.

    Support size per group is min(r1, c1) + 1 (bounded by the smaller
    margin — for rare variants, the carrier count, i.e. tiny exactly
    where the exact test matters).
    """
    base = counts.select(
        F.col(group_col).alias("__g"),
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("c").cast("long").alias("c"),
        F.col("d").cast("long").alias("d"),
    )
    r1 = F.col("a") + F.col("b")
    r2 = F.col("c") + F.col("d")
    c1 = F.col("a") + F.col("c")
    kmin = F.greatest(F.lit(0).cast("long"), c1 - r2)
    kmax = F.least(r1, c1)
    supp = base.select(
        "__g", "a", "b", "c", "d",
        r1.alias("__r1"), r2.alias("__r2"), c1.alias("__c1"),
        F.explode(F.sequence(kmin, kmax)).alias("__k"),
    )
    kk = F.col("__k").cast("double")
    step = F.when(
        F.col("__k") == F.greatest(
            F.lit(0).cast("long"), F.col("__c1") - F.col("__r2")),
        F.lit(0.0),
    ).otherwise(
        F.log((F.col("__r1") - kk + 1) * (F.col("__c1") - kk + 1))
        - F.log(kk * (F.col("__r2") - F.col("__c1") + kk))
    )
    w_pre = Window.partitionBy("__g").orderBy("__k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("__g")
    lw = supp.withColumn("__lnu", F.sum(step).over(w_pre))
    lw = lw.withColumn(
        "__u", F.exp(F.col("__lnu") - F.max("__lnu").over(w_all)))
    obs = F.max(
        F.when(F.col("__k") == F.col("a"), F.col("__lnu"))).over(w_all)
    lw = lw.withColumn("__lnu_obs", obs)
    agg = lw.groupBy("__g").agg(
        F.max("a").alias("a"), F.max("b").alias("b"),
        F.max("c").alias("c"), F.max("d").alias("d"),
        F.sum("__u").alias("__tot"),
        F.sum(F.when(F.col("__lnu") <= F.col("__lnu_obs") + F.lit(rel_tol),
                     F.col("__u")).otherwise(0.0)).alias("__le"),
    )
    return agg.select(
        F.col("__g").alias(group_col),
        "a", "b", "c", "d",
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("n"),
        F.round(F.least(F.col("__le") / F.col("__tot"), F.lit(1.0)), 9)
        .alias("p_two_sided"),
    )


def runs_test(
    df: DataFrame,
    period_col: str,
    value_col: str,
) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of a BOUNDED ordered
    series: 1 row (n_above, n_below, n_runs, expected_runs, z) — are
    above-median and below-median periods interleaved like noise, or
    clumped like a regime (the nonparametric sibling of
    ``cusum_changepoint``: CUSUM locates a shift, the runs test asks
    whether ANY serial structure exists). Values equal to the median
    are dropped (the standard convention).

    R ~ Normal(1 + 2 n1 n2 / n, 2 n1 n2 (2 n1 n2 - n) / (n^2 (n-1)));
    z is NULL when either side is empty or the variance vanishes.
    One median pass, one ordered lag window over the reduced series.
    """
    base = df.select(
        F.col(period_col).alias("__p"),
        F.col(value_col).cast("double").alias("__x"),
    ).filter(F.col("__x").isNotNull())
    med = base.agg(F.expr("percentile(__x, 0.5)").alias("__med"))
    j = base.crossJoin(F.broadcast(med)).filter(
        F.col("__x") != F.col("__med"))
    sgn = (F.col("__x") > F.col("__med")).cast("int")
    w = Window.orderBy("__p")
    runs = j.withColumn("__s", sgn).withColumn(
        "__new", F.when(
            F.lag("__s").over(w).isNull()
            | (F.lag("__s").over(w) != F.col("__s")), 1).otherwise(0))
    agg = runs.agg(
        F.sum("__s").alias("n_above"),
        F.sum(1 - F.col("__s")).alias("n_below"),
        F.sum("__new").alias("n_runs"),
    )
    n1 = F.col("n_above").cast("double")
    n2 = F.col("n_below").cast("double")
    nn = n1 + n2
    exp_r = 1 + 2 * n1 * n2 / nn
    var_r = (2 * n1 * n2 * (2 * n1 * n2 - nn)) / (nn * nn * (nn - 1))
    ok = (F.col("n_above") > 0) & (F.col("n_below") > 0) & (var_r > 0)
    return agg.select(
        "n_above", "n_below", "n_runs",
        F.when(ok, F.round(exp_r, 6)).alias("expected_runs"),
        F.when(ok, F.round(
            (F.col("n_runs") - exp_r) / F.sqrt(var_r), 6)).alias("z"),
    )


def sign_test(
    df: DataFrame,
    before_col: str,
    after_col: str,
) -> DataFrame:
    """EXACT paired sign test: 1 row (n_pos, n_neg, n_ties, p_exact) —
    did the per-subject value move up more often than down, with the
    two-sided binomial(n, 1/2) tail computed EXACTLY via the
    neighbour-ratio prefix sum (pmf(k+1)/pmf(k) = (n-k)/(k+1); no
    factorials, no normal approximation — the small-n companion of
    ``mcnemar_test``'s chi-square and ``mann_whitney_u``'s ranks).
    Zero differences are dropped (the standard convention). p = 1 when
    there are no informative pairs.

    One 1-row aggregate, then the bounded support (n+1 rows) explodes
    from it — same driver-bounded shape as ``fisher_exact_2x2``.
    """
    d = (F.col(after_col) - F.col(before_col)).cast("double")
    agg = df.agg(
        F.sum(F.when(d > 0, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(d < 0, 1).otherwise(0)).alias("n_neg"),
        F.sum(F.when(d == 0, 1).otherwise(0)).alias("n_ties"),
    ).localCheckpoint(eager=False)
    n = F.col("n_pos") + F.col("n_neg")
    supp = agg.select(
        "n_pos", "n_neg", "n_ties", n.alias("__n"),
        F.explode(F.sequence(F.lit(0).cast("long"), n)).alias("__k"),
    )
    kk = F.col("__k").cast("double")
    step = F.when(F.col("__k") == 0, F.lit(0.0)).otherwise(
        F.log(F.col("__n") - kk + 1) - F.log(kk))
    w_pre = Window.orderBy("__k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    lw = supp.withColumn("__lnu", F.sum(step).over(w_pre))
    lw = lw.withColumn(
        "__u", F.exp(F.col("__lnu") - F.max("__lnu").over(w_all)))
    obs = F.max(
        F.when(F.col("__k") == F.col("n_pos"), F.col("__lnu"))).over(w_all)
    lw = lw.withColumn("__lnu_obs", obs)
    out = lw.agg(
        F.max("n_pos").alias("n_pos"),
        F.max("n_neg").alias("n_neg"),
        F.max("n_ties").alias("n_ties"),
        F.sum("__u").alias("__tot"),
        F.sum(F.when(F.col("__lnu") <= F.col("__lnu_obs") + F.lit(1e-7),
                     F.col("__u")).otherwise(0.0)).alias("__le"),
    )
    return out.select(
        "n_pos", "n_neg", "n_ties",
        F.round(F.least(F.col("__le") / F.col("__tot"), F.lit(1.0)), 9)
        .alias("p_exact"),
    )


def multinomial_newton(
    df: DataFrame,
    x_col: str,
    label_col: str,
    iterations: int = 4,
    max_classes: int = 8,
    digits: int | None = 5,
) -> DataFrame:
    """Multinomial (softmax) logistic MLE for a k-class outcome over
    one BOUNDED-cardinality covariate (r12 verdict #7) — the
    classification counterpart of the multi-covariate GLM family: per
    non-reference class c, log odds vs the reference
    ln(p_c/p_ref) = a_c + b_c x. 1 row (class_ref, class_1..,
    beta0_c, beta1_c, se_c, wald_chi2_c per class, n, score_norm).
    The reference class is the FIRST label in ascending sort order.

    Same driver-side factoring as ``logistic_newton_multi``: ONE pass
    collapses the cohort to the joint (x, per-class count) grid,
    collected once; each Newton step computes the per-class scores U_c
    and the 2(k-1) x 2(k-1) block information (cross terms
    -n p_c p_d) over it and solves by functions/cramer.py's step rule.
    At k = 3 (m = 4) that is the GENERATED Leibniz term enumeration
    the ``dx_multinomial`` oracle's CTEs encode; from k = 4 (m >= 6)
    it is numpy, so ``max_classes = 8`` (14 x 14) stays fast.  All
    statistics emit at round-5, the multi family's hash-determinism
    contract.  k = 2 recovers ``logistic_newton_multi`` with one
    covariate (property test; softmax vs sigmoid differ only in float
    path, ~1e-12).  NULL statistics on singular information.
    """
    xv = F.col(x_col).cast("double")
    lab = F.col(label_col).cast("string")
    counts = (
        df.filter(xv.isNotNull() & lab.isNotNull())
        .select(xv.alias("__x"), lab.alias("__y"))
        .groupBy("__x", "__y")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return multinomial_newton_from_counts(
        counts, iterations=iterations, max_classes=max_classes,
        digits=digits)


def multinomial_newton_from_counts(
    counts: DataFrame,
    iterations: int = 4,
    max_classes: int = 8,
    digits: int | None = 5,
) -> DataFrame:
    """:func:`multinomial_newton` from the per-(x, label) count table
    (__x, __y, __n) — the integer-ADDITIVE sufficient statistic, so a
    streaming fold maintains it per micro-batch and this refits the
    softmax MLE on read (streaming/glm.py finalize_multinomial), the
    same fold/recompute-on-read architecture as the other fitters."""
    # ONE collect of the bounded-by-contract (x, label, count) cell
    # table; labels, the per-x grid (exact integer sums, sorted by x)
    # and every Fisher step run driver-side over it, each row
    # evaluated in the oracle CTE's operand order.
    c_rows = counts.collect()
    labels = sorted({r["__y"] for r in c_rows})
    if len(labels) < 2:
        raise ValueError(
            f"multinomial_newton needs >= 2 classes, got {labels}")
    if len(labels) > max_classes:
        raise ValueError(
            f"multinomial_newton: {len(labels)} classes exceeds "
            f"max_classes={max_classes}")
    k = len(labels)
    ref, alts = labels[0], labels[1:]
    alt_ix = {c: j for j, c in enumerate(alts, 1)}
    by_x: dict = {}
    for r in c_rows:
        cell = by_x.setdefault(r["__x"], [0] * k)  # [n, n1..n_{k-1}]
        cell[0] += int(r["__n"])
        j = alt_ix.get(r["__y"])
        if j is not None:
            cell[j] += int(r["__n"])
    g_rows = sorted((float(x), *cnts) for x, cnts in by_x.items())
    n_obs = sum(row[1] for row in g_rows)
    m = 2 * (k - 1)

    def moments(beta):
        """One driver pass over the collected grid -> (U, block info)
        at beta, mirroring the oracle CTE text operand-for-operand."""
        if not g_rows:
            return None
        u = [0.0] * m
        hs = [[0.0] * 3 for _ in range(k - 1)]
        gs = {(j, lx): [0.0] * 3
              for j in range(k - 1) for lx in range(j + 1, k - 1)}
        for row in g_rows:
            x, nc = row[0], float(row[1])
            es, den = [], 1.0
            for j in range(k - 1):
                e = _exp(float(beta[2 * j]) + float(beta[2 * j + 1]) * x)
                es.append(e)
                den = den + e
            ps = [e / den for e in es]
            for j in range(k - 1):
                r = row[2 + j] - nc * ps[j]
                u[2 * j] += r
                u[2 * j + 1] += x * r
            for j in range(k - 1):
                w = nc * (ps[j] * (1 - ps[j]))
                hs[j][0] += w
                hs[j][1] += x * w
                hs[j][2] += x * x * w
            for j in range(k - 1):
                for lx in range(j + 1, k - 1):
                    g = nc * (ps[j] * ps[lx])
                    gs[(j, lx)][0] += g
                    gs[(j, lx)][1] += x * g
                    gs[(j, lx)][2] += x * x * g
        info = {}
        for j in range(k - 1):
            info[(2 * j, 2 * j)] = hs[j][0]
            info[(2 * j, 2 * j + 1)] = hs[j][1]
            info[(2 * j + 1, 2 * j + 1)] = hs[j][2]
        for j in range(k - 1):
            for lx in range(j + 1, k - 1):
                info[(2 * j, 2 * lx)] = -gs[(j, lx)][0]
                info[(2 * j, 2 * lx + 1)] = -gs[(j, lx)][1]
                info[(2 * j + 1, 2 * lx)] = -gs[(j, lx)][1]
                info[(2 * j + 1, 2 * lx + 1)] = -gs[(j, lx)][2]
        return u, info

    fit = fit_newton(moments, [0.0] * m, iterations)
    names = [f"beta{i}_{j}" for j in range(1, k) for i in (0, 1)]
    names += [f"{s}_{j}" for j in range(1, k) for s in ("se", "wald_chi2")]
    names.append("score_norm")
    vals = [None] * len(names)
    if fit is not None:
        beta, u, var = fit
        vals = list(beta)
        for j in range(1, k):
            vj, bj = var[2 * j - 1], beta[2 * j - 1]
            vals += [math.sqrt(vj), bj * bj / vj]
        vals = [_round(v, digits) for v in vals + [score_norm(u)]]
    cols = [F.lit(ref).alias("class_ref")]
    cols += [F.lit(c).alias(f"class_{j}") for j, c in enumerate(alts, 1)]
    cols += [F.lit(v).cast("double").alias(nm)
             for nm, v in zip(names[:-1], vals[:-1])]
    cols += [F.lit(n_obs).cast("long").alias("n"),
             F.lit(vals[-1]).cast("double").alias("score_norm")]
    return counts.sparkSession.range(1).select(*cols)


def ordinal_newton(
    df: DataFrame,
    x_col: str,
    label_col: str,
    levels: list,
    iterations: int = 6,
    digits: int | None = 5,
) -> DataFrame:
    """Proportional-odds (ordinal) logistic MLE for a k-LEVEL ORDERED
    outcome over one bounded covariate — the ordinal rung between
    ``logistic_newton`` (k = 2) and ``multinomial_newton`` (nominal,
    no order): P(Y <= j | x) = sigmoid(theta_j + beta x) with ONE
    shared slope, the standard severity-grade / stage / dose-response
    model. 1 row (theta_1..theta_{k-1}, beta, or_beta, se_beta,
    wald_chi2_beta, n, score_norm). ``levels`` fixes the category
    ORDER explicitly (ordinal semantics cannot be inferred from sort
    order of arbitrary labels).

    Fisher-scoring steps from the marginal-cumulative-logit start
    (theta_j0 = logit of the empirical P(Y <= j), beta0 = 0): per step
    one driver pass over the collected grid for the score and expected
    information — cell probabilities p_j = gamma_j - gamma_{j-1},
    derivative weights g_j = gamma_j (1 - gamma_j) — then a solve by
    functions/cramer.py's step rule (Cramer in the oracle's exact
    operand order up to k = 4; round-5 emission — the multi family's
    hash-determinism contract). A step that drives any cell
    probability to <= 0 (theta crossing) or a non-PD information emits
    NULL statistics, same as a singular grid.

    Scale shape: ONE pass collapses the cohort to the (x, per-level
    count) grid, collected once; every Fisher step is grid-sized; the
    cohort is never rescanned. The ``dx_ordinal`` oracle replays the identical
    recurrence at k = 3 as chained 3x3 cofactor-Cramer CTEs.
    """
    xv = F.col(x_col).cast("double")
    lab = F.col(label_col).cast("string")
    lvl = [str(v) for v in levels]
    counts = (
        df.filter(xv.isNotNull() & lab.isNotNull() & lab.isin(lvl))
        .select(xv.alias("__x"), lab.alias("__y"))
        .groupBy("__x", "__y")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return ordinal_newton_from_counts(
        counts, levels, iterations=iterations, digits=digits)


def ordinal_newton_from_counts(
    counts: DataFrame,
    levels: list,
    iterations: int = 6,
    digits: int | None = 5,
) -> DataFrame:
    """:func:`ordinal_newton` from the per-(x, label) count table
    (__x, __y, __n) — the integer-ADDITIVE sufficient statistic shared
    with ``multinomial_newton_from_counts``, so ONE streaming count
    fold serves both the nominal and the ordinal reader
    (streaming/glm.py finalize_ordinal)."""
    k = len(levels)
    if k < 2:
        raise ValueError("ordinal_newton needs >= 2 ordered levels")
    if k > 8:
        raise ValueError(f"ordinal_newton: {k} levels exceeds 8")
    m = k  # k-1 thresholds + 1 slope
    lvl = [str(v) for v in levels]
    counts = counts.filter(F.col("__y").isin(lvl))
    n_cols = [f"__n{j}" for j in range(1, k)]
    grid = counts.groupBy("__x").agg(
        F.sum("__n").alias("__n"),
        *[F.sum(F.when(F.col("__y") == F.lit(v), F.col("__n"))
                .otherwise(0)).alias(c)
          for c, v in zip(n_cols, lvl[:-1])],
    )
    # ONE distributed pass collapses the cohort to the bounded-by-
    # contract (x, per-level count) grid; the grid is collected ONCE,
    # sorted by (x, counts), and every Fisher step runs driver-side
    # over it in the oracle CTE's per-row operand order.
    g_rows = sorted((float(r["__x"]), int(r["__n"] or 0),
                     *[int(r[c] or 0) for c in n_cols])
                    for r in grid.collect())
    n_obs = sum(r[1] for r in g_rows)

    def emit(fit):
        names = [f"theta_{j}" for j in range(1, k)]
        names += ["beta", "or_beta", "se_beta", "wald_chi2_beta"]
        vals = [None] * (k + 4)
        if fit is not None:
            par, u, var = fit
            b, vb = par[-1], var[-1]
            vals = [_round(v, digits) for v in (
                *par, _exp(b), math.sqrt(vb), b * b / vb, score_norm(u))]
        return _literal_row(counts.sparkSession, [
            *zip(names, vals), ("n", n_obs), ("score_norm", vals[-1])])

    if n_obs == 0:
        return emit(None)
    cum = 0
    theta = []
    for j in range(1, k):
        cum += sum(r[1 + j] for r in g_rows)
        if not 0 < cum < n_obs:
            return emit(None)  # empty cumulative class: unidentifiable
        theta.append(math.log(cum / (n_obs - cum)))

    def moments(par):
        """One driver pass over the collected grid -> (U, info dict),
        each row evaluated in the oracle CTE's operand order (k = 3
        text; general k mirrors the same per-level terms); None when a
        step drove any cell probability to <= 0 (theta crossing)."""
        th, b = par[:-1], par[-1]
        u = [0.0] * m
        info = {(r, s): 0.0 for r in range(m) for s in range(r, m)}
        pmin = None
        for row in g_rows:
            x, nc = row[0], float(row[1])
            gam = [0.0] + [
                1 / (1 + _exp(-(float(th[j]) + float(b) * x)))
                for j in range(k - 1)
            ] + [1.0]
            g = [0.0] + [gam[j] * (1 - gam[j]) for j in range(1, k)] \
                + [0.0]
            p = [gam[j] - gam[j - 1] for j in range(1, k + 1)]  # p[0]=p_1
            ns = list(row[2:])
            ns.append(row[1] - sum(ns))  # top level count
            # score: thresholds then slope
            for r in range(1, k):
                u[r - 1] += (ns[r - 1] * (g[r] / p[r - 1])
                             - ns[r] * (g[r] / p[r]))
            slope = ns[0] * (g[1] / p[0])
            for j in range(2, k):
                slope = slope + ns[j - 1] * ((g[j] - g[j - 1]) / p[j - 1])
            slope = slope - ns[k - 1] * (g[k - 1] / p[k - 1])
            u[k - 1] += x * slope
            # expected information: d_j vectors per level share
            # d_j(theta_r) = delta_{jr} g_r - delta_{j-1,r} g_{j-1};
            # d_j(b) = (g_j - g_{j-1}) x
            for r in range(m):
                for s in range(r, m):
                    term = None
                    for j in range(1, k + 1):
                        dr = _ord_deriv_py(r, j, g, x, k)
                        ds = _ord_deriv_py(s, j, g, x, k)
                        if dr is None or ds is None:
                            continue
                        t = dr * ds / p[j - 1]
                        term = t if term is None else term + t
                    if term is not None:
                        info[(r, s)] += nc * term
            rp = min(p)
            pmin = rp if pmin is None else min(pmin, rp)
        return (u, info) if pmin is not None and pmin > 0 else None

    # params: theta_1..theta_{k-1}, slope last
    return emit(fit_newton(moments, theta + [0.0], iterations))


def _ord_deriv_py(r: int, j: int, g: list, x: float, k: int):
    """d p_j / d param_r as a float, or None when identically zero.
    Params 0..k-2 are thresholds theta_{r+1}; param k-1 is the slope."""
    if r == k - 1:  # slope
        return (g[j] - g[j - 1]) * x
    t = r + 1  # threshold index
    if j == t:
        return g[t]
    if j == t + 1:
        return -g[t]
    return None


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    rating_col: str,
) -> DataFrame:
    """Fleiss' kappa for MULTI-rater categorical agreement: 1 row
    (n_items, n_raters, n_categories, p_bar, p_e, kappa, se0, z) —
    the generalization of :func:`cohen_kappa` beyond two raters (label
    audits with 3+ annotators, ensemble-of-classifiers agreement).
    ``df`` holds one row per (item, rating); every item must carry the
    SAME number of ratings n — items whose rating count differs from
    the modal majority (the global MAXIMUM count) are dropped and only
    reported through n_items, the standard balanced-panel contract.

    P_i = (sum_j n_ij^2 - n) / (n (n-1)); p_bar = mean_i P_i;
    p_j = column shares; p_e = sum p_j^2;
    kappa = (p_bar - p_e) / (1 - p_e); the large-sample null SE is
    se0 = sqrt(2 / (N n (n-1)))
          * sqrt(p_e - (2n-3) p_e^2 + 2 (n-2) sum_j p_j^3) / (1 - p_e)
    (Fleiss 1971), z = kappa / se0. NULL kappa when p_e = 1.

    Scale shape: ONE groupBy to the (item, category) count table, one
    per-item reduce, one bounded per-category reduce — exact integer
    arithmetic until the final ratios, so a SQL oracle replays it
    (round-6).
    """
    base = df.select(
        F.col(item_col).alias("__i"),
        F.col(rating_col).cast("string").alias("__c"),
    ).filter(F.col("__i").isNotNull() & F.col("__c").isNotNull())
    cell = base.groupBy("__i", "__c").agg(F.count(F.lit(1)).alias("__m"))
    per_item = cell.groupBy("__i").agg(
        F.sum("__m").alias("__n"),
        F.sum(F.col("__m") * F.col("__m")).alias("__ss"),
    ).localCheckpoint(eager=False)
    nmax = per_item.agg(F.max("__n").alias("n")).collect()[0].n
    if not nmax or nmax < 2:
        return df.sparkSession.range(1).select(
            F.lit(0).cast("long").alias("n_items"),
            F.lit(nmax or 0).cast("long").alias("n_raters"),
            F.lit(0).cast("long").alias("n_categories"),
            *[F.lit(None).cast("double").alias(c)
              for c in ("p_bar", "p_e", "kappa", "se0", "z")])
    keep = per_item.filter(F.col("__n") == nmax)
    stats = keep.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            (F.col("__ss") - F.col("__n")).cast("double")
            / (F.col("__n") * (F.col("__n") - 1))
        ).alias("__psum"),
    )
    cat = (
        cell.join(keep.select("__i"), "__i")
        .groupBy("__c").agg(F.sum("__m").alias("__cm"))
        .agg(
            F.count(F.lit(1)).alias("n_categories"),
            F.sum("__cm").alias("__tot"),
            F.sum(F.col("__cm").cast("double") * F.col("__cm")
                  * F.col("__cm")).alias("__c3"),
            F.sum(F.col("__cm").cast("double") * F.col("__cm"))
            .alias("__c2"),
        )
    )
    j = stats.crossJoin(F.broadcast(cat))
    tot = F.col("__tot").cast("double")
    p_bar = F.col("__psum") / F.col("n_items")
    p_e = F.col("__c2") / (tot * tot)
    p3 = F.col("__c3") / (tot * tot * tot)
    nn = F.lit(float(nmax))
    ok = p_e < 1.0
    kappa = (p_bar - p_e) / (1 - p_e)
    se0 = (
        F.sqrt(2 / (F.col("n_items") * nn * (nn - 1)))
        * F.sqrt(p_e - (2 * nn - 3) * (p_e * p_e) + 2 * (nn - 2) * p3)
        / (1 - p_e)
    )
    return j.select(
        F.col("n_items").cast("long").alias("n_items"),
        F.lit(int(nmax)).cast("long").alias("n_raters"),
        F.col("n_categories").cast("long").alias("n_categories"),
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_e, 6).alias("p_e"),
        F.when(ok, F.round(kappa, 6) + 0.0).alias("kappa"),
        F.when(ok, F.round(se0, 6)).alias("se0"),
        F.when(ok & (se0 > 0), F.round(kappa / se0, 6) + 0.0).alias("z"),
    )


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_cells: int = 5000,
) -> DataFrame:
    """Kendall's tau-b rank correlation with FULL tie adjustment for
    two BOUNDED-cardinality ordinal/discretized columns: 1 row (n,
    concordant, discordant, pairs_tied_x, pairs_tied_y, tau_b, z) —
    the tie-robust companion to ``spearman_rho`` (heavy-tie data like
    grades, bands, small-integer counts is exactly where Spearman's
    rank-average blurs and tau-b stays exact).

    The cohort collapses to the joint (x, y) cell grid (bounded by
    contract, <= ``max_cells``); concordant/discordant pair counts are
    a cell-pair sum n_a n_b over cells with x_a < x_b, computed as an
    inequality join of the grid against its own LITERAL-INLINED copy
    (a bounded collect, the same constant-row-side pattern as the
    centroid and Fine-Gray spines — pair work is |cells|^2, never
    n^2). Ties come from the per-axis marginals. tau_b =
    (C - D) / sqrt((n0 - n1)(n0 - n2)); z uses the ties-adjusted null
    variance (Kendall 1970):
        var_S = (v0 - vt - vu)/18 + v1 + v2
    with v0 = n(n-1)(2n+5), vt/vu the per-axis t(t-1)(2t+5) sums,
    v1 = [sum t(t-1)][sum u(u-1)] / (2n(n-1)),
    v2 = [sum t(t-1)(t-2)][sum u(u-1)(u-2)] / (9n(n-1)(n-2)).
    Exact integer arithmetic until the final ratios (round-6 oracle).
    """
    j = _pair_grid_stats(df, x_col, y_col, max_cells, "kendall_tau_b")
    if j is None:
        return df.sparkSession.range(1).select(
            F.lit(0).cast("long").alias("n"),
            *[F.lit(0).cast("long").alias(c) for c in
              ("concordant", "discordant", "pairs_tied_x",
               "pairs_tied_y")],
            F.lit(None).cast("double").alias("tau_b"),
            F.lit(None).cast("double").alias("z"))
    n = F.col("n").cast("double")
    s = (F.col("c_pairs") - F.col("d_pairs")).cast("double")
    n0 = n * (n - 1) / 2
    n1 = F.col("t2x").cast("double") / 2
    n2 = F.col("t2y").cast("double") / 2
    denom = F.sqrt((n0 - n1) * (n0 - n2))
    var_s = _pair_var_s()
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.col("c_pairs").cast("long").alias("concordant"),
        F.col("d_pairs").cast("long").alias("discordant"),
        (F.col("t2x") / 2).cast("long").alias("pairs_tied_x"),
        (F.col("t2y") / 2).cast("long").alias("pairs_tied_y"),
        F.when(denom > 0, F.round(s / denom, 6) + 0.0).alias("tau_b"),
        F.when((denom > 0) & (var_s > 0),
               F.round(s / F.sqrt(var_s), 6) + 0.0).alias("z"),
    )


def _pair_var_s():
    """Ties-adjusted null variance of S = C - D (Kendall 1970), as a
    Column over the ``_pair_grid_stats`` row."""
    n = F.col("n").cast("double")
    v0 = n * (n - 1) * (2 * n + 5)
    return (
        (v0 - F.col("vtx") - F.col("vty")) / 18
        + F.col("t2x").cast("double") * F.col("t2y") / (2 * n * (n - 1))
        + F.col("t3x").cast("double") * F.col("t3y")
        / (9 * n * (n - 1) * (n - 2))
    )


def _pair_grid_stats(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_cells: int,
    op_name: str,
):
    """Shared concordance-pair machinery for :func:`kendall_tau_b` and
    :func:`somers_d`: collapse to the bounded joint (x, y) cell grid,
    count concordant/discordant pairs via the grid x literal-inlined-
    grid inequality join (|cells|^2 pair work, never n^2), and fold in
    the per-axis tie moments. Returns a 1-row DataFrame (n, c_pairs,
    d_pairs, t2x, vtx, t3x, t2y, vty, t3y), or None when the filtered
    input is empty."""
    xv, yv = F.col(x_col), F.col(y_col)
    grid = (
        df.filter(xv.isNotNull() & yv.isNotNull())
        .groupBy(xv.cast("double").alias("__x"),
                 yv.cast("double").alias("__y"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .localCheckpoint(eager=False)
    )
    cells = grid.collect()
    if len(cells) > max_cells:
        raise ValueError(
            f"{op_name}: {len(cells)} joint cells exceeds the "
            f"bounded-grid contract (max_cells={max_cells}); band the "
            "columns first")
    spark = df.sparkSession
    if not cells:
        return None
    # Three array LITERALS + posexplode/element_at, not |cells| structs
    # of inlined field literals: the 3*|cells|-node expression tree
    # cost ~2s of Catalyst analysis PER ACTION at 350 cells (measured;
    # the array-literal form is 3 Literal nodes regardless of cell
    # count). Same Generate-over-Range shape for the plan audit's
    # constant-side proof; values bit-identical.
    lit = spark.range(1).select(
        F.posexplode(F.lit([float(r["__x"]) for r in cells]))
        .alias("__i", "__bx")
    ).select(
        "__bx",
        F.element_at(F.lit([float(r["__y"]) for r in cells]),
                     F.col("__i") + 1).alias("__by"),
        F.element_at(F.lit([int(r["__n"]) for r in cells]),
                     F.col("__i") + 1).alias("__bn"),
    )
    pair = grid.join(
        F.broadcast(lit), F.col("__x") < F.col("__bx"), "inner")
    cd = pair.agg(
        F.sum(F.when(F.col("__by") > F.col("__y"),
                     F.col("__n") * F.col("__bn")).otherwise(0))
        .alias("c_pairs"),
        F.sum(F.when(F.col("__by") < F.col("__y"),
                     F.col("__n") * F.col("__bn")).otherwise(0))
        .alias("d_pairs"),
    )
    tx = grid.groupBy("__x").agg(F.sum("__n").alias("t")).agg(
        F.sum(F.col("t") * (F.col("t") - 1)).alias("t2x"),
        F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
        .alias("vtx"),
        F.sum(F.col("t") * (F.col("t") - 1) * (F.col("t") - 2))
        .alias("t3x"),
    )
    ty = grid.groupBy("__y").agg(F.sum("__n").alias("t")).agg(
        F.sum(F.col("t") * (F.col("t") - 1)).alias("t2y"),
        F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
        .alias("vty"),
        F.sum(F.col("t") * (F.col("t") - 1) * (F.col("t") - 2))
        .alias("t3y"),
    )
    tot = grid.agg(F.sum("__n").alias("n"))
    return (cd.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
            .crossJoin(F.broadcast(tot)))


def somers_d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_cells: int = 5000,
) -> DataFrame:
    """Somers' D — the ASYMMETRIC rank association between a predictor
    x and an outcome y over the same bounded joint cell grid as
    :func:`kendall_tau_b` (shared ``_pair_grid_stats`` machinery): 1
    row (n, concordant, discordant, d_yx, d_xy, z). d_yx = S / (pairs
    not tied on x) reads "y given x" (how much of x's untied ordering
    carries to y); d_xy = S / (pairs not tied on y) reads "x given y"
    and for a BINARY y is exactly the Gini coefficient of the score:
    auc = (d_xy + 1) / 2 (property-tested against
    ``classify.roc_auc``). z is the ties-adjusted S-based null normal
    deviate (same null S variance as tau-b — the three statistics
    share S and differ only in denominator). Pair work is |cells|^2 on
    the literal-inlined grid, never n^2."""
    j = _pair_grid_stats(df, x_col, y_col, max_cells, "somers_d")
    if j is None:
        return df.sparkSession.range(1).select(
            F.lit(0).cast("long").alias("n"),
            F.lit(0).cast("long").alias("concordant"),
            F.lit(0).cast("long").alias("discordant"),
            F.lit(None).cast("double").alias("d_yx"),
            F.lit(None).cast("double").alias("d_xy"),
            F.lit(None).cast("double").alias("z"))
    n = F.col("n").cast("double")
    s = (F.col("c_pairs") - F.col("d_pairs")).cast("double")
    n0 = n * (n - 1) / 2
    ux = n0 - F.col("t2x").cast("double") / 2
    uy = n0 - F.col("t2y").cast("double") / 2
    var_s = _pair_var_s()
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.col("c_pairs").cast("long").alias("concordant"),
        F.col("d_pairs").cast("long").alias("discordant"),
        F.when(ux > 0, F.round(s / ux, 6) + 0.0).alias("d_yx"),
        F.when(uy > 0, F.round(s / uy, 6) + 0.0).alias("d_xy"),
        F.when(var_s > 0, F.round(s / F.sqrt(var_s), 6) + 0.0).alias("z"),
    )


def jonckheere_terpstra(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Jonckheere-Terpstra test for an ORDERED alternative across k
    ranked groups (dose levels, stage, priority): 1 row (n, k, j_stat,
    e_j, var_j, z). The trend-aware successor to ``kruskal_wallis`` —
    J = sum over group pairs g < g' of the Mann-Whitney count
    #{x in g, y in g': x < y} + ties/2, so a monotone dose-response
    concentrates mass where an omnibus rank test dilutes it. For k = 2
    J IS the Mann-Whitney U (property-tested).

    E[J] = (N^2 - sum n_i^2)/4 and the ties-corrected null variance
    (Hollander & Wolfe eq. 6.19) is
        var = A/72 + B/(36 N(N-1)(N-2)) + C/(8 N(N-1))
    with A = f(N) - sum_i f(n_i) - sum_v f(t_v), f(m) = m(m-1)(2m+5),
    B = [sum_i g(n_i)][sum_v g(t_v)], g(m) = m(m-1)(m-2), and
    C = [sum_i n_i(n_i-1)][sum_v t_v(t_v-1)], t_v the pooled per-value
    tie counts. z = (J - E[J]) / sqrt(var).

    Scale shape: NO pairwise join — one groupBy collapses to the
    (group, value) cell grid, the grid is densified (distinct values x
    the ordered group list riding a 1-row collect_set broadcast), and
    the pair count is 2-D dominance counting via two exclusive prefix
    windows (strict value prefix per group, then strict group prefix
    per value). Doubled-unit integers (2J) end to end, so the result
    is hash-deterministic; window state is bounded by |cells|."""
    gv, vv = F.col(group_col), F.col(value_col)
    cells = (
        df.filter(gv.isNotNull() & vv.isNotNull())
        .groupBy(gv.cast("long").alias("__g"),
                 vv.cast("double").alias("__v"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    glist = cells.select("__g").distinct().groupBy().agg(
        F.collect_list("__g").alias("gs"))
    dense = (
        cells.select("__v").distinct()
        .crossJoin(F.broadcast(glist))
        .select("__v", F.explode("gs").alias("__g"))
        .join(cells, ["__g", "__v"], "left")
        .select("__g", "__v", F.coalesce("n", F.lit(0)).alias("n"))
    )
    w_vpre = (
        Window.partitionBy("__g").orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_gpre = (
        Window.partitionBy("__v").orderBy("__g")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d1 = dense.withColumn(
        "pv", F.coalesce(F.sum("n").over(w_vpre), F.lit(0)))
    d2 = (
        d1.withColumn(
            "below", F.coalesce(F.sum("pv").over(w_gpre), F.lit(0)))
        .withColumn(
            "tiev", F.coalesce(F.sum("n").over(w_gpre), F.lit(0)))
    )
    j2 = d2.groupBy().agg(
        F.sum(F.col("n") * (2 * F.col("below") + F.col("tiev")))
        .alias("j2"))
    fm = lambda m: m * (m - 1) * (2 * m + 5)  # noqa: E731
    gm = lambda m: m * (m - 1) * (m - 2)  # noqa: E731
    gsz = cells.groupBy("__g").agg(F.sum("n").alias("m")).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("m").alias("nn"),
        F.sum(F.col("m") * F.col("m")).alias("sq"),
        F.sum(fm(F.col("m"))).alias("fg"),
        F.sum(gm(F.col("m"))).alias("gg"),
        F.sum(F.col("m") * (F.col("m") - 1)).alias("pg"),
    )
    vsz = cells.groupBy("__v").agg(F.sum("n").alias("t")).agg(
        F.sum(fm(F.col("t"))).alias("fv"),
        F.sum(gm(F.col("t"))).alias("gv"),
        F.sum(F.col("t") * (F.col("t") - 1)).alias("pv"),
    )
    one = (gsz.crossJoin(F.broadcast(vsz))
           .crossJoin(F.broadcast(j2)))
    n = F.col("nn").cast("double")
    jstat = F.coalesce(F.col("j2"), F.lit(0)).cast("double") / 2
    e_j = (n * n - F.col("sq").cast("double")) / 4
    var_j = (
        (fm(n) - F.col("fg").cast("double") - F.col("fv")) / 72
        + F.col("gg").cast("double") * F.col("gv")
        / (36 * n * (n - 1) * (n - 2))
        + F.col("pg").cast("double") * F.col("pv") / (8 * n * (n - 1))
    )
    return one.select(
        F.col("nn").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        (F.round(jstat, 6) + 0.0).alias("j_stat"),
        (F.round(e_j, 6) + 0.0).alias("e_j"),
        (F.round(var_j, 6) + 0.0).alias("var_j"),
        F.when(var_j > 0,
               F.round((jstat - e_j) / F.sqrt(var_j), 6) + 0.0).alias("z"),
    )


def conditional_logit_11(
    df: DataFrame,
    stratum_col: str,
    case_col: str,
    x_col: str,
) -> DataFrame:
    """Conditional logistic regression for 1:1 MATCHED case-control
    pairs with a binary exposure: 1 row (n_strata, n_used, n10, n01,
    beta, or_hat, se, z, mcnemar_chi2) — the matched-design
    counterpart of :func:`logistic_newton` (an unconditional fit on
    matched data biases the odds ratio away from 1; conditioning on
    the pair removes the per-stratum nuisance intercepts, Breslow &
    Day ch. 7). For one case and one control per stratum the
    conditional MLE is CLOSED FORM on the discordant pairs: with n10
    pairs where only the case is exposed and n01 where only the
    control is, beta = ln(n10/n01), se = sqrt(1/n10 + 1/n01), and the
    score test is exactly McNemar's chi2 = (n10-n01)^2/(n10+n01)
    (``mcnemar_test``'s statistic — concordant pairs carry no
    information). Strata violating the 1:1 contract (not exactly one
    case and one control with non-null exposure) are EXCLUDED and
    counted via n_strata vs n_used; beta/se are NULL when either
    discordant count is 0 (infinite MLE), the chi2 only needs
    n10 + n01 > 0.

    Scale shape: one groupBy to per-stratum (case-exposure,
    control-exposure) sums, one global aggregate. No windows, no
    joins, no collect.
    """
    case = F.col(case_col).cast("int")
    x = F.col(x_col).cast("int")
    per = (
        df.filter(F.col(stratum_col).isNotNull()
                  & case.isNotNull() & x.isNotNull())
        .groupBy(F.col(stratum_col).alias("__s"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(case).alias("__nc"),
            F.sum(case * x).alias("__xc"),
            F.sum((1 - case) * x).alias("__xk"),
        )
    )
    ok = (F.col("__n") == 2) & (F.col("__nc") == 1)
    one = per.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(ok.cast("long")).alias("n_used"),
        F.sum(F.when(ok & (F.col("__xc") == 1) & (F.col("__xk") == 0), 1)
              .otherwise(0)).alias("n10"),
        F.sum(F.when(ok & (F.col("__xc") == 0) & (F.col("__xk") == 1), 1)
              .otherwise(0)).alias("n01"),
    )
    n10 = F.col("n10").cast("double")
    n01 = F.col("n01").cast("double")
    est = (F.col("n10") > 0) & (F.col("n01") > 0)
    disc = (F.col("n10") + F.col("n01")) > 0
    beta = F.log(n10 / n01)
    se = F.sqrt(1 / n10 + 1 / n01)
    return one.select(
        F.col("n_strata").cast("long").alias("n_strata"),
        F.col("n_used").cast("long").alias("n_used"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n01").cast("long").alias("n01"),
        F.when(est, F.round(beta, 6) + 0.0).alias("beta"),
        F.when(est, F.round(n10 / n01, 6)).alias("or_hat"),
        F.when(est, F.round(se, 6)).alias("se"),
        F.when(est, F.round(beta / se, 6) + 0.0).alias("z"),
        F.when(disc, F.round((n10 - n01) * (n10 - n01) / (n10 + n01), 6))
        .alias("mcnemar_chi2"),
    )


def effect_measures(
    df: DataFrame,
    exposure_col: str,
    event_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Cohort 2x2 effect-measure translation panel: 1 row (n, a, b, c,
    d, risk1, risk0, rd, rd_lo, rd_hi, nnt, rr, rr_lo, rr_hi, or_hat,
    e_value, e_value_ci) — the decision-facing readouts downstream of
    every significance test in this family (:func:`odds_ratio` says
    whether; this says HOW MUCH and what it would take to explain it
    away): absolute risk difference with its Wald CI, number needed to
    treat NNT = 1/|rd| (harm or benefit per the sign), relative risk
    with the log-Wald CI (Katz), the odds ratio, and VanderWeele &
    Ding's E-value for unmeasured confounding — the minimum
    confounder-outcome/confounder-exposure RR that could fully explain
    the observed RR (E = RR* + sqrt(RR*(RR*-1)) with RR* = RR when
    RR >= 1 else 1/RR; ``e_value_ci`` applies the same map to the CI
    bound closer to 1, and is 1 when the CI crosses 1 — no confounding
    needed).

    All-NULL measure columns when any 2x2 margin is empty; rd and its
    CI still emit whenever both arms have subjects. a/b/c/d follow the
    epidemiology convention (a = exposed events, b = exposed
    non-events, c = unexposed events, d = unexposed non-events).

    Scale shape: ONE conditional-sum aggregate over the cohort — no
    joins, windows, or collects.
    """
    ex = F.col(exposure_col).cast("int")
    ev = F.col(event_col).cast("int")
    one = (
        df.filter(ex.isNotNull() & ev.isNotNull())
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(ex * ev).alias("a"),
            F.sum(ex * (1 - ev)).alias("b"),
            F.sum((1 - ex) * ev).alias("c"),
            F.sum((1 - ex) * (1 - ev)).alias("d"),
        )
    )
    a, b = F.col("a").cast("double"), F.col("b").cast("double")
    c, d = F.col("c").cast("double"), F.col("d").cast("double")
    n1, n0 = a + b, c + d
    p1, p0 = a / n1, c / n0
    both = (n1 > 0) & (n0 > 0)
    rd = p1 - p0
    se_rd = F.sqrt(p1 * (1 - p1) / n1 + p0 * (1 - p0) / n0)
    pos = (a > 0) & (b > 0) & (c > 0) & (d > 0)
    rr = p1 / p0
    se_lrr = F.sqrt(1 / a - 1 / n1 + 1 / c - 1 / n0)
    rr_lo = rr * F.exp(-z * se_lrr)
    rr_hi = rr * F.exp(z * se_lrr)
    orr = a * d / (b * c)

    def evalue(r):
        rstar = F.when(r >= 1, r).otherwise(1 / r)
        return rstar + F.sqrt(rstar * (rstar - 1))

    near = F.when(rr >= 1, rr_lo).otherwise(rr_hi)
    crosses = (rr_lo <= 1) & (rr_hi >= 1)
    return one.select(
        F.col("n").cast("long").alias("n"),
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("c").cast("long").alias("c"),
        F.col("d").cast("long").alias("d"),
        F.when(n1 > 0, F.round(p1, 6)).alias("risk1"),
        F.when(n0 > 0, F.round(p0, 6)).alias("risk0"),
        F.when(both, F.round(rd, 6) + 0.0).alias("rd"),
        F.when(both, F.round(rd - z * se_rd, 6) + 0.0).alias("rd_lo"),
        F.when(both, F.round(rd + z * se_rd, 6) + 0.0).alias("rd_hi"),
        F.when(both & (rd != 0), F.round(1 / F.abs(rd), 6)).alias("nnt"),
        F.when(pos, F.round(rr, 6)).alias("rr"),
        F.when(pos, F.round(rr_lo, 6)).alias("rr_lo"),
        F.when(pos, F.round(rr_hi, 6)).alias("rr_hi"),
        F.when(pos, F.round(orr, 6)).alias("or_hat"),
        F.when(pos, F.round(evalue(rr), 6)).alias("e_value"),
        F.when(pos & crosses, F.lit(1.0))
        .when(pos, F.round(evalue(near), 6)).alias("e_value_ci"),
    )


def poisson_rate_newton(
    df: DataFrame,
    x_col: str,
    y_col: str,
    time_col: str,
    iterations: int = 4,
) -> DataFrame:
    """Poisson RATE regression — log-link GLM with a person-time
    OFFSET — for one bounded-cardinality covariate plus intercept: 1
    row (beta0, beta1, rate_ratio, se1, wald_chi2, n, y_total,
    ptime_total). :func:`poisson_newton` models counts per SUBJECT;
    epidemiology models events per unit FOLLOW-UP (mu_i = pt_i *
    exp(b0 + b1 x_i)), and with the offset the sufficient statistic
    per x-cell is just (sum y, sum pt) — the same bounded grid with
    the cell count replaced by the cell's person-time as the Poisson
    exposure, collected once and fitted on the driver by the shared
    GLM core. For a binary x the MLE is closed-form and
    ``rate_ratio`` equals
    :func:`clinpy_spark.operators.survival.incidence_rate`'s IRR
    exactly (property-tested). Start (ln(sum y / sum pt), 0); NULL on
    singular information or a divergent step. Rows with missing or
    non-positive follow-up are dropped.
    """
    grid = (
        df.select(
            F.col(x_col).cast("double").alias("__x"),
            F.col(y_col).cast("double").alias("__y"),
            F.col(time_col).cast("double").alias("__pt"),
        )
        .filter(F.col("__x").isNotNull() & F.col("__y").isNotNull()
                & (F.col("__pt") > 0))
        .groupBy("__x")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__y").alias("__sy"),
            F.sum("__pt").alias("__spt"),
        )
    )
    rows = _glm_rows(grid, ["__x", "__spt", "__sy", "__n"])
    pt_tot = sum((r[1] for r in rows), 0.0)
    sy_tot = sum((r[2] for r in rows), 0.0)
    start = [math.log(sy_tot / pt_tot) if sy_tot > 0 else 0.0, 0.0]
    fit = fit_newton(glm_moments(rows, 1, _poisson_w), start, iterations)
    b0, b1, se1, wald = _slope_stats(fit)
    return _row6(df.sparkSession, [
        ("beta0", b0), ("beta1", b1),
        ("rate_ratio", None if fit is None else _exp(b1)),
        ("se1", se1), ("wald_chi2", wald),
        F.lit(int(sum(r[3] for r in rows))).cast("long").alias("n"),
        ("y_total", sy_tot), ("ptime_total", pt_tot),
    ])
