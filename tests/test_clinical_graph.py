"""Survival analysis, genetic association, and graph analytics
(operators/survival.py, assoc.py, graph.py) against hand-computed
textbook values."""

import pytest
from pyspark.sql import functions as F

from clinpy_spark.operators.assoc import allelic_assoc_chi2, hwe_chi2
from clinpy_spark.operators.graph import pagerank, triangle_stats
from clinpy_spark.operators.survival import km_curve, logrank_test


def _cohort(spark, rows):
    return spark.createDataFrame(rows, "grp string, t long, evt int")


def test_km_curve_textbook(spark):
    """Classic 5-subject example: events at 1, 2, 4; censored at 3, 5.
    S = 0.8, 0.6, (0.6), 0.3, (0.3)."""
    df = _cohort(spark, [
        ("a", 1, 1), ("a", 2, 1), ("a", 3, 0), ("a", 4, 1), ("a", 5, 0)])
    out = {r.t: r for r in km_curve(df, "t", "evt", "grp").collect()}
    assert [out[t].n_risk for t in (1, 2, 3, 4, 5)] == [5, 4, 3, 2, 1]
    assert out[1].survival == 0.8
    assert out[2].survival == 0.6
    assert out[3].survival == 0.6          # censoring-only time: flat
    assert out[4].survival == pytest.approx(0.3)
    assert out[5].survival == pytest.approx(0.3)
    assert (out[3].n_events, out[3].n_censored) == (0, 1)


def test_km_curve_all_events_hit_zero(spark):
    """When the last at-risk subjects all fail, survival is exactly 0.0
    (zero flag, not ln(0)); groups are independent."""
    df = _cohort(spark, [
        ("z", 1, 1), ("z", 1, 1),
        ("k", 1, 1), ("k", 2, 0)])
    out = {(r.grp, r.t): r.survival
           for r in km_curve(df, "t", "evt", "grp").collect()}
    assert out[("z", 1)] == 0.0
    assert out[("k", 1)] == 0.5 and out[("k", 2)] == 0.5


def test_km_curve_tied_event_and_censor(spark):
    """Event + censor at the same time: both at risk at t, the censored
    subject leaves after — S(2) = 1 - 2/3 applied to n_risk 3."""
    df = _cohort(spark, [("a", 2, 1), ("a", 2, 1), ("a", 2, 0)])
    (r,) = km_curve(df, "t", "evt", "grp").collect()
    assert (r.n_risk, r.n_events, r.n_censored) == (3, 2, 1)
    assert r.survival == pytest.approx(1 / 3, abs=1e-6)


def test_logrank_identical_groups_is_zero(spark):
    """Identical survival experience in both arms: O == E, chi2 == 0."""
    rows = [("a", t, e) for t, e in [(1, 1), (2, 1), (3, 0), (4, 1)]]
    rows += [("b", t, e) for t, e in [(1, 1), (2, 1), (3, 0), (4, 1)]]
    (r,) = logrank_test(
        _cohort(spark, rows), "t", "evt", "grp", "a", "b").collect()
    assert r.chi2 == 0.0
    assert r.observed_a == 3 and r.expected_a == pytest.approx(3.0)
    assert (r.n_a, r.n_b) == (4, 4)


def test_logrank_separated_groups_is_large(spark):
    """Arm a all fails early, arm b survives (censored late):
    chi2 far above the 3.84 significance cut."""
    rows = [("a", t, 1) for t in (1, 2, 3, 4, 5)]
    rows += [("b", 10, 0)] * 5
    (r,) = logrank_test(
        _cohort(spark, rows), "t", "evt", "grp", "a", "b").collect()
    assert r.chi2 > 3.84
    assert r.observed_a == 5 and r.expected_a < 4


def _geno(spark, rows):
    return spark.createDataFrame(rows, "variant long, gt int, case boolean")


def test_hwe_equilibrium_and_violation(spark):
    """Exact p^2/2pq/q^2 counts score chi2 = 0; a complete heterozygote
    deficit at p = 0.5 scores chi2 = n; monomorphic variants are 0 by
    definition."""
    rows = [(1, 0, True)] * 25 + [(1, 1, True)] * 50 + [(1, 2, True)] * 25
    rows += [(2, 0, True)] * 50 + [(2, 2, True)] * 50
    rows += [(3, 0, True)] * 40
    out = {r.variant: r for r in hwe_chi2(
        _geno(spark, rows), "variant", "gt").collect()}
    assert out[1].chi2 == 0.0 and out[1].alt_freq == 0.5
    assert out[2].chi2 == 100.0 and out[2].n_het == 0
    assert out[3].chi2 == 0.0 and out[3].alt_freq == 0.0
    assert (out[1].n, out[1].n_hom_ref, out[1].n_het, out[1].n_hom_alt) \
        == (100, 25, 50, 25)


def test_allelic_assoc_extremes(spark):
    """Equal allele frequencies in cases and controls: chi2 = 0;
    perfectly separating alleles: chi2 = total allele count."""
    rows = [(1, 1, True)] * 10 + [(1, 1, False)] * 10
    rows += [(2, 2, True)] * 10 + [(2, 0, False)] * 10
    out = {r.variant: r for r in allelic_assoc_chi2(
        _geno(spark, rows), "variant", "gt", "case").collect()}
    assert out[1].chi2 == 0.0
    assert (out[1].case_alt, out[1].case_ref) == (10, 10)
    assert out[2].chi2 == 40.0
    assert (out[2].case_alt, out[2].ctrl_alt) == (20, 0)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "s long, d long")


def test_triangle_stats_known_graphs(spark):
    """K4: 4 triangles, 12 wedges, coefficient 1.0. Path 1-2-3: one
    wedge, no triangle. Duplicate/reversed/self-loop inputs dedup."""
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    (r,) = triangle_stats(_edges(spark, k4), "s", "d").collect()
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (4, 6, 12, 4)
    assert r.clustering_coeff == 1.0

    path = [(1, 2), (2, 1), (2, 3), (2, 2)]
    (p,) = triangle_stats(_edges(spark, path), "s", "d").collect()
    assert (p.n_nodes, p.n_edges, p.n_wedges, p.n_triangles) == (3, 2, 1, 0)
    assert p.clustering_coeff == 0.0


def test_triangle_stats_matches_naive(spark):
    """Degree-oriented count equals naive u<v<w enumeration on a
    deterministic pseudo-random graph."""
    pairs = [((i * 7919) % 23, (i * 104729 + 3) % 23) for i in range(160)]
    pairs = [(a, b) for a, b in pairs if a != b]
    df = _edges(spark, pairs)
    (r,) = triangle_stats(df, "s", "d").collect()
    e = {(min(a, b), max(a, b)) for a, b in pairs}
    naive = sum(
        1 for (u, v) in e for w in range(23)
        if v < w and (u, w) in e and (v, w) in e)
    assert r.n_triangles == naive and r.n_edges == len(e)


def test_pagerank_star_cycle_and_mass(spark):
    """5-cycle: uniform 0.2 at every node (fixed point of the
    recurrence). Star: center outranks the leaves; total mass sums
    to 1 (symmetrized graph has no dangling loss)."""
    cycle = [(i, (i + 1) % 5) for i in range(5)]
    out = pagerank(_edges(spark, cycle), "s", "d", iterations=4).collect()
    assert all(r.pr == pytest.approx(0.2, abs=1e-6) for r in out)

    star = [(0, k) for k in (1, 2, 3, 4)]
    rs = {r.node: r.pr for r in pagerank(
        _edges(spark, star), "s", "d", iterations=5).collect()}
    assert rs[0] > max(rs[k] for k in (1, 2, 3, 4))
    assert len({rs[k] for k in (1, 2, 3, 4)}) == 1
    assert sum(rs.values()) == pytest.approx(1.0, abs=1e-5)

    # copartition=True (the billion-node scale path: rank vector too
    # big to broadcast, adjacency partitioning pinned at checkpoint)
    # must produce bit-identical ranks to the AQE-dynamic default.
    co = {r.node: r.pr for r in pagerank(
        _edges(spark, star), "s", "d", iterations=5,
        copartition=True).collect()}
    assert co == rs


def test_ld_r2_perfect_and_independent(spark):
    """Perfectly linked variants (identical dosage vectors) score
    r2 = 1; an anti-correlated pair scores 1 too (r = -1); a constant
    (monomorphic) variant scores 0. Pairs outside the distance window
    or across chromosomes are never emitted."""
    from clinpy_spark.operators.assoc import ld_r2

    rows = []
    for s in range(8):
        g0 = s % 3            # variants 0 and 1 identical
        rows += [(0, s, g0), (1, s, g0)]
        rows += [(2, s, 2 - g0)]          # anti-correlated with 0
        rows += [(3, s, 1)]               # monomorphic
        rows += [(20, s, g0)]             # same chrom, too far from 0
        rows += [(100, s, g0)]            # other chromosome
    df = spark.createDataFrame(rows, "variant long, s long, gt int") \
        .withColumn("chrom", (F.col("variant") / 50).cast("long")) \
        .withColumn("pos", F.col("variant"))
    out = {(r.vx, r.vy): r.r2 for r in ld_r2(
        df, "variant", "s", "gt", "chrom", "pos", max_dist=5).collect()}
    assert out[(0, 1)] == 1.0
    assert out[(0, 2)] == 1.0            # squared correlation
    assert out[(0, 3)] == 0.0            # zero variance partner
    assert (0, 20) not in out and (0, 100) not in out
    assert set(out) == {(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)}


def test_burden_test_counts_and_chi2(spark):
    """Burden: rare variants selected by cohort frequency; carriers of
    any rare alt allele counted per gene against phenotype totals. A
    gene whose rare carriers are all cases scores a large chi2."""
    from clinpy_spark.operators.assoc import burden_test

    rows = []
    for s in range(20):
        case = s < 10
        # gene 0, variant 0: rare (2 carriers / 20 -> af 0.05 needs <;
        # use 1 carrier -> af 0.025), carried only by case sample 0
        rows.append((0, s, 1 if s == 0 else 0, 0, case))
        # gene 0, variant 1: common (af 0.5), must be excluded
        rows.append((1, s, 1, 0, case))
        # gene 1, variant 2: rare, carried by case 1 and ctrl 11
        rows.append((2, s, 1 if s in (1, 11) else 0, 1, case))
    df = spark.createDataFrame(
        rows, "variant long, s long, gt int, gene long, case boolean")
    # variant 2 sits at af exactly 0.05 -> a 0.06 cut keeps it while
    # still excluding the af-0.5 common variant (strict <)
    out = {r.gene: r for r in burden_test(
        df, "variant", "s", "gt", "gene", "case", max_freq=0.06).collect()}
    g0, g1 = out[0], out[1]
    assert (g0.case_carriers, g0.ctrl_carriers) == (1, 0)
    assert (g0.case_total, g0.ctrl_total) == (10, 10)
    assert g0.n_rare_variants == 1       # common variant excluded
    assert (g1.case_carriers, g1.ctrl_carriers) == (1, 1)
    assert g1.chi2 == 0.0                # symmetric carriers
    assert g0.chi2 > 0


def test_nelson_aalen_cumhaz(spark):
    """H(t) accumulates d/n in time order: 1/5, 1/5+1/4, then flat over
    the censoring-only time, then +1/2."""
    from clinpy_spark.operators.survival import nelson_aalen

    df = _cohort(spark, [
        ("a", 1, 1), ("a", 2, 1), ("a", 3, 0), ("a", 4, 1), ("a", 5, 0)])
    out = {r.t: r for r in nelson_aalen(df, "t", "evt", "grp").collect()}
    assert out[1].cumhaz == pytest.approx(0.2)
    assert out[2].cumhaz == pytest.approx(0.45)
    assert out[3].cumhaz == pytest.approx(0.45)   # censoring-only: flat
    assert out[4].cumhaz == pytest.approx(0.95)
    assert [out[t].n_risk for t in (1, 2, 3, 4, 5)] == [5, 4, 3, 2, 1]


def test_roh_runs_islands(spark):
    """Runs split on heterozygous calls and chromosome boundaries;
    short runs are dropped by min_sites."""
    from clinpy_spark.operators.assoc import roh_runs

    rows = []
    # sample 1, chrom 0: hom at pos 0-4, het at 5, hom at 6-7
    for p in range(5):
        rows.append((1, 0, p, 0))
    rows.append((1, 0, 5, 1))
    rows += [(1, 0, 6, 2), (1, 0, 7, 0)]
    # sample 1, chrom 1: all hom (3 sites) — separate run
    rows += [(1, 1, p, 2) for p in range(3)]
    df = spark.createDataFrame(rows, "s long, chrom long, pos long, gt int")
    out = {(r.sample, r.chrom, r.start_pos): r for r in roh_runs(
        df, "s", "chrom", "pos", "gt", min_sites=3).collect()}
    assert set(out) == {(1, 0, 0), (1, 1, 0)}
    r0 = out[(1, 0, 0)]
    assert (r0.end_pos, r0.n_sites) == (4, 5)    # het at 5 breaks the run
    assert out[(1, 1, 0)].n_sites == 3

    none = roh_runs(df, "s", "chrom", "pos", "gt", min_sites=6).collect()
    assert none == []


def test_km_greenwood_bands(spark):
    """Greenwood on the textbook example: se(1) = sqrt(0.8^2/20),
    se(2) = sqrt(0.6^2 * (1/20 + 1/12)); bands clamp to [0, 1]."""
    from clinpy_spark.operators.survival import km_greenwood

    df = _cohort(spark, [
        ("a", 1, 1), ("a", 2, 1), ("a", 3, 0), ("a", 4, 1), ("a", 5, 0)])
    out = {r.t: r for r in km_greenwood(df, "t", "evt", "grp").collect()}
    assert out[1].se == pytest.approx(0.178885, abs=1e-6)
    assert out[1].ci_lo == pytest.approx(0.8 - 1.96 * 0.178885, abs=1e-5)
    assert out[1].ci_hi == 1.0                       # clamped
    assert out[2].se == pytest.approx(
        (0.36 * (1 / 20 + 1 / 12)) ** 0.5, abs=1e-6)
    assert out[3].se == out[2].se                    # censoring: flat

    zero = km_greenwood(
        _cohort(spark, [("z", 1, 1), ("z", 1, 1)]), "t", "evt", "grp"
    ).collect()[0]
    assert (zero.survival, zero.se, zero.ci_lo, zero.ci_hi) == (0, 0, 0, 0)


def test_trend_chi2_extremes(spark):
    """Perfect additive separation scores chi2 = N; identical genotype
    distributions score 0; all-case strata are 0 by definition."""
    from clinpy_spark.operators.assoc import trend_chi2

    rows = [(1, 2, True)] * 10 + [(1, 0, False)] * 10
    rows += [(2, 1, True)] * 5 + [(2, 1, False)] * 5
    rows += [(3, 1, True)] * 4
    out = {r.variant: r for r in trend_chi2(
        _geno(spark, rows), "variant", "gt", "case").collect()}
    assert out[1].chi2 == 20.0          # = N under perfect separation
    assert out[2].chi2 == 0.0           # zero score variance -> 0
    assert out[3].chi2 == 0.0           # no controls -> 0
    assert (out[1].n, out[1].n_case, out[1].score_case) == (20, 10, 20)


def test_odds_ratio_haldane(spark):
    """Balanced table: OR = 1 with a CI straddling 1; one-sided table:
    OR > 1 and finite thanks to the +0.5 correction."""
    from clinpy_spark.operators.assoc import odds_ratio

    rows = [(1, 1, True)] * 10 + [(1, 1, False)] * 10
    rows += [(2, 2, True)] * 10 + [(2, 0, False)] * 10
    out = {r.variant: r for r in odds_ratio(
        _geno(spark, rows), "variant", "gt", "case").collect()}
    assert out[1].or_est == 1.0
    assert out[1].or_lo < 1.0 < out[1].or_hi
    assert out[2].or_est == pytest.approx(
        (20.5 * 20.5) / (0.5 * 0.5), abs=1e-4)
    assert out[2].or_lo > 1.0 and out[2].or_hi > out[2].or_est


def test_quantile_normalize_matrix(spark):
    """After QN every sample carries the same value multiset (the
    rank-wise means); a sample already holding the mean distribution
    is unchanged."""
    from clinpy_spark.operators.assoc import quantile_normalize

    rows = [  # samples with different scales, same shape
        (1, 0, 10), (1, 1, 20), (1, 2, 30),
        (2, 0, 100), (2, 1, 200), (2, 2, 300),
    ]
    df = spark.createDataFrame(rows, "s long, f long, v long")
    out = quantile_normalize(df, "s", "f", "v").collect()
    per_sample = {}
    for r in out:
        per_sample.setdefault(r.sample, set()).add(r.qn_value)
    assert per_sample[1] == per_sample[2] == {55.0, 110.0, 165.0}
    by_rank = {(r.sample, r.rank): r.qn_value for r in out}
    assert by_rank[(1, 1)] == 55.0 and by_rank[(2, 3)] == 165.0


def test_merge_intervals_blocks(spark):
    """Overlapping and touching intervals collapse; gaps split; groups
    are independent; containment is absorbed."""
    from clinpy_spark.functions.intervals import merge_intervals

    rows = [
        ("a", 0, 10), ("a", 5, 7), ("a", 10, 12),   # overlap+contain+touch
        ("a", 20, 25),                              # gap -> new block
        ("b", 0, 1), ("b", 3, 4),                   # two blocks
    ]
    df = spark.createDataFrame(rows, "g string, s long, e long")
    out = {(r.g, r.s): r for r in merge_intervals(df, "g", "s", "e").collect()}
    assert set(out) == {("a", 0), ("a", 20), ("b", 0), ("b", 3)}
    assert (out[("a", 0)].e, out[("a", 0)].n_merged) == (12, 3)
    assert out[("a", 20)].n_merged == 1


def test_rmst_textbook(spark):
    """RMST = area under the KM steps, clipped at tau: the textbook
    cohort gives 1*1 + 0.8*1 + 0.6*2 + 0.3*(tau-4) for tau in (4, 5];
    a tau below the first time returns tau itself."""
    from clinpy_spark.operators.survival import rmst

    df = _cohort(spark, [
        ("a", 1, 1), ("a", 2, 1), ("a", 3, 0), ("a", 4, 1), ("a", 5, 0)])
    (r,) = rmst(df, "t", "evt", "grp", tau=5).collect()
    assert r.rmst == pytest.approx(1 + 0.8 + 0.6 * 2 + 0.3 * 1, abs=1e-6)
    assert r.n_subjects == 5

    (r10,) = rmst(df, "t", "evt", "grp", tau=10).collect()
    assert r10.rmst == pytest.approx(1 + 0.8 + 0.6 * 2 + 0.3 * 6, abs=1e-6)

    (r0,) = rmst(df, "t", "evt", "grp", tau=1).collect()
    assert r0.rmst == pytest.approx(1.0, abs=1e-6)   # S=1 on [0, t1)


def test_fst_hudson_closed_form_and_null(spark):
    """Hudson F_ST: a variant with p1=0.5 (2/4 alleles) vs p2=0 scores
    ((0.5)^2 - 0.25/3 - 0) / 0.5 = 1/3; identical populations score the
    negative-bias null (num = -2 * p(1-p)/(n-1) / den), and a variant
    monomorphic REF in both populations reports NULL (den = 0)."""
    from clinpy_spark.operators.assoc import fst_hudson

    rows = [
        # variant 0: pop1 = {1,1}, pop2 = {0,0}
        (0, 1, True), (0, 1, True), (0, 0, False), (0, 0, False),
        # variant 1: identical het pairs in both pops
        (1, 1, True), (1, 1, True), (1, 1, False), (1, 1, False),
        # variant 2: all hom-ref
        (2, 0, True), (2, 0, True), (2, 0, False), (2, 0, False),
    ]
    df = spark.createDataFrame(rows, "variant long, gt int, pop boolean")
    out = {r.variant: r for r in fst_hudson(df, "variant", "gt", "pop").collect()}
    v0 = out[0]
    assert (v0.n1, v0.n2, v0.alt1, v0.alt2) == (4, 4, 2, 0)
    assert v0.fst == pytest.approx(1 / 3, abs=1e-6)
    # identical allele freqs: expectation of the estimator is 0; the
    # per-site value is the small-sample negative bias term
    v1 = out[1]
    assert v1.fst == pytest.approx(
        (0 - 2 * (0.5 * 0.5 / 3)) / (0.5 * 0.5 + 0.5 * 0.5), abs=1e-6)
    assert out[2].fst is None


def test_cuminc_textbook(spark):
    """4 subjects: cause-1 event at t=1, cause-2 at t=2, censored at
    t=3, cause-1 at t=4. CIF1 = 0.25, 0.25, 0.25, 0.75; CIF2 = 0,
    0.25, 0.25, 0.25; at every time sum CIF + all-cause KM = 1."""
    from clinpy_spark.operators.survival import cuminc

    df = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 2), ("a", 3, 0), ("a", 4, 1)],
        "grp string, t long, st int")
    out = {(r.cause, r.t): r for r in
           cuminc(df, "t", "st", "grp", causes=[1, 2]).collect()}
    assert [out[(1, t)].cif for t in (1, 2, 3, 4)] == [0.25, 0.25, 0.25, 0.75]
    assert [out[(2, t)].cif for t in (1, 2, 3, 4)] == [0.0, 0.25, 0.25, 0.25]
    assert [out[(1, t)].n_risk for t in (1, 2, 3, 4)] == [4, 3, 2, 1]
    assert (out[(1, 1)].d, out[(2, 2)].d, out[(1, 4)].d) == (1, 1, 1)


def test_stratified_logrank_adjusts_confounded_strata(spark):
    """A cohort where arm a is over-represented in a high-risk stratum:
    the POOLED test sees a difference, the stratified test (within-
    stratum risk sets) sees arms with identical within-stratum
    experience - chi2 collapses toward 0."""
    from clinpy_spark.operators.survival import (
        logrank_stratified, logrank_test)

    rows = []
    # stratum "hi": fast events, mostly arm a; identical curves per arm
    for arm, n in (("a", 6), ("b", 2)):
        rows += [(arm, "hi", t, 1) for t in range(1, n + 1)]
    # stratum "lo": slow events, mostly arm b
    for arm, n in (("a", 2), ("b", 6)):
        rows += [(arm, "lo", 10 + t, 1) for t in range(1, n + 1)]
    df = spark.createDataFrame(rows, "grp string, site string, t long, evt int")
    pooled = logrank_test(df, "t", "evt", "grp", "a", "b").collect()[0]
    strat = logrank_stratified(
        df, "t", "evt", "grp", "site", "a", "b").collect()[0]
    assert strat.n_strata == 2
    assert pooled.chi2 > 3.84          # confounded pooled signal
    assert strat.chi2 < pooled.chi2 / 4  # adjustment removes most of it


def test_stratified_logrank_null_event_single_stratum_is_plain(spark):
    """A subject with a NULL event is in no risk set of either test, so
    one stratum still reduces exactly to logrank_test."""
    from clinpy_spark.operators.survival import (
        logrank_stratified, logrank_test)

    rows = [("a", 1, 1), ("a", 3, 0), ("a", 4, 1), ("a", 2, None),
            ("b", 2, 1), ("b", 3, 1), ("b", 5, 0), ("b", 1, None)]
    df = spark.createDataFrame(rows, "grp string, t long, evt int") \
        .withColumn("site", F.lit("s0"))
    plain = logrank_test(df, "t", "evt", "grp", "a", "b").collect()[0]
    strat = logrank_stratified(
        df, "t", "evt", "grp", "site", "a", "b").collect()[0]
    assert plain.chi2 is not None
    assert (strat.chi2, strat.observed_a, strat.expected_a, strat.n_a,
            strat.n_b) == tuple(plain)
    assert strat.n_strata == 1


def test_inbreeding_f_closed_form(spark):
    """Two variants, two samples: at v0 p = 1/4, at v1 p = 3/4, so
    each contributes exp-het 0.375. The all-het sample scores
    F = 1 - 2/0.75; the fully homozygous sample scores F = 1.
    A sample seen only at a monomorphic site reports NULL."""
    from clinpy_spark.operators.assoc import inbreeding_f

    rows = [
        (0, "A", 1), (0, "B", 0),
        (1, "A", 1), (1, "B", 2),
        (9, "C", 0), (9, "C", 0),  # monomorphic-only sample
    ]
    df = spark.createDataFrame(rows, "variant long, s string, gt int")
    out = {r.sample: r for r in inbreeding_f(df, "variant", "s", "gt").collect()}
    assert (out["A"].n_variants, out["A"].obs_het) == (2, 2)
    assert out["A"].exp_het == pytest.approx(0.75, abs=1e-6)
    assert out["A"].f == pytest.approx(1 - 2 / 0.75, abs=1e-6)
    assert out["B"].f == pytest.approx(1.0, abs=1e-6)
    assert out["C"].f is None and out["C"].exp_het == 0.0


def test_incidence_rate_closed_form(spark):
    """Arm a: 2 events over 10 person-days (rate 0.2); arm b: 1 event
    over 20 (rate 0.05). IRR = 4 with the Rothman log-normal CI; an
    event-free arm reports NULL IRR but real rates."""
    import math

    from clinpy_spark.operators.survival import incidence_rate

    df = spark.createDataFrame(
        [("a", 4, 1), ("a", 6, 1), ("b", 12, 1), ("b", 8, 0)],
        "grp string, t long, evt int")
    (r,) = incidence_rate(df, "t", "evt", "grp", "a", "b").collect()
    assert (r.events_a, r.ptime_a, r.events_b, r.ptime_b) == (2, 10.0, 1, 20.0)
    assert (r.rate_a, r.rate_b, r.irr) == (0.2, 0.05, 4.0)
    se = math.sqrt(1 / 2 + 1 / 1)
    assert r.irr_lo == pytest.approx(4 * math.exp(-1.96 * se), abs=1e-5)
    assert r.irr_hi == pytest.approx(4 * math.exp(1.96 * se), abs=1e-5)

    none = spark.createDataFrame(
        [("a", 4, 0), ("b", 12, 1)], "grp string, t long, evt int")
    (n0,) = incidence_rate(none, "t", "evt", "grp", "a", "b").collect()
    assert n0.irr is None and n0.rate_a == 0.0 and n0.rate_b == pytest.approx(1 / 12, abs=1e-6)


def test_kcore_known_graph_and_convergence(spark):
    """K5 with a pendant chain: the 4-core is exactly the K5 (degree 4
    each) and peeling converges — an extra round changes nothing. The
    3-core of two triangles sharing a vertex is... both triangles only
    form 2-cores (degree 2), so k=3 is empty."""
    from clinpy_spark.operators.graph import kcore

    k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
    chain = [(4, 10), (10, 11), (11, 12)]
    df = _edges(spark, k5 + chain)
    out = {r.node: r.degree for r in kcore(df, "s", "d", k=4, rounds=4).collect()}
    assert out == {n: 4 for n in range(5)}
    more = {r.node: r.degree
            for r in kcore(df, "s", "d", k=4, rounds=8).collect()}
    assert more == out  # fixpoint reached: extra rounds are no-ops

    tri2 = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4)]
    assert kcore(_edges(spark, tri2), "s", "d", k=3, rounds=4).count() == 0
    assert {r.node for r in
            kcore(_edges(spark, tri2), "s", "d", k=2, rounds=4).collect()} \
        == {0, 1, 2, 3, 4}


def test_cox_newton_matches_known_mle(spark):
    """Binary-covariate Cox MLE: on a small cohort the 3-step Newton
    beta must agree with an independent numpy Newton solve of the same
    Breslow partial likelihood to ~1e-6, hr = exp(beta), and the k=0
    information matches the score test's variance at beta=0."""
    import math

    from clinpy_spark.operators.survival import cox_newton

    rows = [
        (1, 1, 1), (2, 1, 1), (3, 1, 1), (4, 0, 1), (6, 1, 1),
        (5, 1, 0), (7, 1, 0), (8, 0, 0), (9, 1, 0), (10, 0, 0),
    ]
    df = spark.createDataFrame(rows, "t long, evt int, x int")
    out = cox_newton(df, "t", "evt", "x", iterations=3).collect()[0]

    # independent Newton on the same grid
    import collections
    pts = collections.defaultdict(lambda: [0, 0, 0, 0])  # d, d1, r, r1
    for t, e, x in rows:
        pts[t][2] += 1
        pts[t][3] += x
        pts[t][0] += e
        pts[t][1] += e * x
    times = sorted(pts)
    n = sum(p[2] for p in pts.values())
    n1 = sum(p[3] for p in pts.values())
    beta = 0.0
    for _ in range(3):
        u = i = 0.0
        at, at1 = n, n1
        for t in times:
            d, d1, r, r1 = pts[t]
            if d > 0:
                s1 = at1 * math.exp(beta)
                s0 = (at - at1) + s1
                u += d1 - d * s1 / s0
                i += d * (s1 / s0) * (1 - s1 / s0)
            at -= r
            at1 -= r1
        beta += u / i
    assert out.beta == pytest.approx(beta, abs=2e-6)
    assert out.hr == pytest.approx(math.exp(beta), rel=1e-5)
    assert out.n_events == sum(e for _, e, _ in rows)
    assert out.n_subjects == len(rows)
    assert out.se is not None and out.se > 0


def test_cox_newton_null_on_constant_covariate(spark):
    """A constant covariate has zero information at every step: beta,
    hr, se, wald_chi2 must all be NULL (no 0-division), counts real."""
    from clinpy_spark.operators.survival import cox_newton

    df = spark.createDataFrame(
        [(1, 1, 1), (2, 1, 1), (3, 0, 1)], "t long, evt int, x int")
    out = cox_newton(df, "t", "evt", "x").collect()[0]
    assert out.beta is None and out.hr is None
    assert out.se is None and out.wald_chi2 is None
    assert out.n_events == 2 and out.n_subjects == 3


def test_king_kinship_self_and_unrelated(spark):
    """A duplicated genotype vector scores phi ~ 0.5 -> dup/MZ; an
    opposite-homozygote pair drives phi negative -> unrelated; a pair
    with no het calls is undefined."""
    from clinpy_spark.operators.assoc import king_kinship

    rows = []
    # samples 1 and 2: identical, half the variants het
    for v in range(20):
        gt = 1 if v % 2 == 0 else 0
        rows += [(1, v, gt), (2, v, gt)]
    # sample 3: opposite homozygote of sample 4 everywhere, no hets
    for v in range(20):
        rows += [(3, v, 0), (4, v, 2)]
    df = spark.createDataFrame(rows, "s long, v long, gt int")
    out = {(r.s1, r.s2): r for r in
           king_kinship(df, "s", "v", "gt").collect()}
    dup = out[(1, 2)]
    assert dup.n_both_het == 10 and dup.n_opp_hom == 0
    assert dup.kinship == pytest.approx(0.5)
    assert dup.degree == "dup/MZ"
    opp = out[(3, 4)]
    assert opp.kinship is None and opp.degree == "undefined"
    # mixed pair (1,3): sample 3 all hom-ref, sample 1 het at evens ->
    # denominator 10, no both-het, no opp-hom -> phi = 0, unrelated
    mixed = out[(1, 3)]
    assert mixed.kinship == pytest.approx(0.0)
    assert mixed.degree == "unrelated"


def test_adamic_adar_square_and_hub(spark):
    """On the 4-cycle a-b-c-d the diagonals (a,c) and (b,d) each share
    2 degree-2 neighbors: AA = 2/ln(2); adjacent pairs are excluded by
    the anti-join. A center above the degree cap contributes nothing."""
    import math

    from clinpy_spark.operators.graph import adamic_adar

    cyc = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    df = spark.createDataFrame(cyc, "u string, v string")
    out = {(r.x, r.y): r for r in
           adamic_adar(df, "u", "v", min_common=2).collect()}
    assert set(out) == {("a", "c"), ("b", "d")}
    assert out[("a", "c")].common_neighbors == 2
    assert out[("a", "c")].adamic_adar == pytest.approx(
        round(2 / math.log(2), 6))
    # hub h connected to 5 spokes with cap 3: no wedge through h
    # survives, so no pair reaches min_common=1
    hub = [("h", f"s{i}") for i in range(5)]
    df2 = spark.createDataFrame(hub, "u string, v string")
    assert adamic_adar(
        df2, "u", "v", max_center_degree=3, min_common=1).count() == 0


def test_js_divergence_bounds_and_symmetry(spark):
    """JSD of a distribution with itself is 0; against a disjoint
    shift it approaches ln 2; swapping ref/cur gives the same value
    up to the (asymmetric, reference-binned) edge choice on identical
    supports."""
    import math

    from clinpy_spark.operators.drift import js_divergence

    a = spark.range(1000).select((F.col("id") % 100).cast("double").alias("v"))
    same = js_divergence(a, a, "v", n_bins=10).collect()[0]
    assert same.jsd == pytest.approx(0.0, abs=1e-9)
    b = spark.range(1000).select(
        (F.col("id") % 100 + 1000).cast("double").alias("v"))
    far = js_divergence(a, b, "v", n_bins=10).collect()[0]
    assert far.jsd > 0.5 * math.log(2)
    assert far.jsd <= math.log(2) + 1e-9
    assert far.ref_n == 1000 and far.cur_n == 1000 and far.n_bins == 10


def test_wasserstein_shift_equals_offset(spark):
    """W1 between X and X+c on a uniform grid is ~c (exact in the
    binned representation when c aligns with the grid); identical
    inputs give exactly 0; ks_d rides along correctly."""
    from clinpy_spark.operators.drift import wasserstein_binned

    a = spark.range(2000).select((F.col("id") % 100).cast("double").alias("v"))
    same = wasserstein_binned(a, a, "v", n_bins=20).collect()[0]
    assert same.w1 == 0.0 and same.ks_d == 0.0
    b = spark.range(2000).select(
        ((F.col("id") % 100) + 10).cast("double").alias("v"))
    shift = wasserstein_binned(a, b, "v", n_bins=20).collect()[0]
    # mass must move ~10 units; binning quantizes, allow 25% slack
    assert 7.5 <= shift.w1 <= 12.5
    assert shift.ref_n == 2000 and shift.cur_n == 2000


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by one bridge edge: after 3 synchronous
    rounds with min tie-break, each triangle collapses to its minimum
    node id; community count is 2 (the bridge can't outvote a clique)."""
    from clinpy_spark.operators.graph import label_propagation

    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)]
    df = spark.createDataFrame(edges, "u long, v long")
    out = {r.node: r.community for r in
           label_propagation(df, "u", "v", rounds=3).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[10] == out[11] == out[12]
    # the bridge node 10's clique keeps a label from its own triangle
    assert out[10] != 1 or out[12] != 1  # cliques don't fully merge


def test_cmh_matches_single_stratum_chi2_shape(spark):
    """With ONE stratum, CMH reduces to the continuity-corrected 2x2
    chi-square: check against a hand-computed table; the MH odds ratio
    equals ad/bc."""
    from clinpy_spark.operators.assoc import cmh_test

    # a=30, b=10, c=10, d=30 -> OR = 9, t=80, m1=40, n1=40
    rows = (
        [(0, 1, 1)] * 30 + [(0, 0, 1)] * 10
        + [(0, 1, 0)] * 10 + [(0, 0, 0)] * 30
    )
    df = spark.createDataFrame(rows, "s int, e int, y int")
    out = cmh_test(df, "s", "e", "y").collect()[0]
    t, m1, n1, a = 80.0, 40.0, 40.0, 30.0
    ek = n1 * m1 / t
    vk = n1 * (t - n1) * m1 * (t - m1) / (t * t * (t - 1))
    exp = (abs(a - ek) - 0.5) ** 2 / vk
    assert out.cmh_chi2 == pytest.approx(round(exp, 6))
    assert out.or_mh == pytest.approx(9.0)
    assert out.n_strata == 1 and out.n == 80


def test_cmh_confounded_strata_cancel(spark):
    """Simpson-style confounding: within each stratum exposure and
    outcome are independent, so the stratified test must be ~null even
    though the POOLED 2x2 shows association."""
    from clinpy_spark.operators.assoc import cmh_test

    rows = []
    # stratum 0: mostly exposed, mostly cases — independent inside
    rows += [(0, 1, 1)] * 16 + [(0, 1, 0)] * 4 + [(0, 0, 1)] * 4 + [(0, 0, 0)] * 1
    # stratum 1: mostly unexposed, mostly controls — independent inside
    rows += [(1, 1, 1)] * 1 + [(1, 1, 0)] * 4 + [(1, 0, 1)] * 4 + [(1, 0, 0)] * 16
    df = spark.createDataFrame(rows, "s int, e int, y int")
    out = cmh_test(df, "s", "e", "y").collect()[0]
    assert out.or_mh == pytest.approx(1.0)
    assert out.cmh_chi2 is not None and out.cmh_chi2 < 0.5


def test_mann_whitney_textbook_and_ties(spark):
    """Hand-computed 3-vs-3 example (values without overlap give U =
    n_a*n_b), then a fully-tied sample where variance vanishes and z
    is NULL."""
    from clinpy_spark.operators.assoc import mann_whitney_u

    df = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("a", 30.0),
         ("b", 1.0), ("b", 2.0), ("b", 3.0)],
        "g string, v double")
    out = mann_whitney_u(df, "v", "g", "a", "b").collect()[0]
    assert out.u_a == 9.0          # complete separation: U = 3*3
    assert out.r_a == 4 + 5 + 6    # ranks of the top half
    assert out.n_ties == 0
    assert out.z > 0
    tied = spark.createDataFrame(
        [("a", 5.0)] * 4 + [("b", 5.0)] * 4, "g string, v double")
    out2 = mann_whitney_u(tied, "v", "g", "a", "b").collect()[0]
    assert out2.z is None
    assert out2.u_a == pytest.approx(8.0)  # all midranks 4.5 -> R_a = 18


def test_cusum_detects_level_shift(spark):
    """A series that jumps from 10 to 20 halfway: the upward CUSUM
    peaks at the END of the series (mean sits between the halves) with
    magnitude n/4 * shift / n = shift*n/4 scaled; the detected period
    is deterministic; a constant series scores 0."""
    from clinpy_spark.operators.windows import cusum_changepoint

    rows = [(float(i), 10) for i in range(10)] + \
           [(float(i), 20) for i in range(10, 20)]
    df = spark.createDataFrame(rows, "p double, x long")
    out = cusum_changepoint(df, "p", "x").collect()[0]
    # mean = 15; D_t dips to -5*10 at t=10 then returns to 0; S+ peaks
    # at the last period with value 50 (D_20 - min D = 0 - (-50))
    assert out.mean_x == 15.0
    assert out.max_cusum_pos == pytest.approx(50.0)
    assert out.t_pos == 19.0
    assert out.max_cusum_neg == pytest.approx(50.0)
    assert out.t_neg == 9.0
    flat = spark.createDataFrame(
        [(float(i), 7) for i in range(5)], "p double, x long")
    out2 = cusum_changepoint(flat, "p", "x").collect()[0]
    assert out2.max_cusum_pos == 0.0 and out2.max_cusum_neg == 0.0


def test_tajima_d_monomorphic_and_signs(spark):
    """A gene with no segregating sites gets NULL D and theta; a gene
    where every variant is a singleton (excess rare alleles) scores
    NEGATIVE D; pi matches the hand-computed pairwise diversity."""
    from clinpy_spark.operators.assoc import tajima_d

    rows = []
    # gene 0: 6 samples, all hom-ref at 3 variants -> monomorphic
    for v in range(3):
        rows += [(0, v, s, 0) for s in range(6)]
    # gene 1: 10 variants, each a single het in a different sample ->
    # all singletons on n=12 chromosomes
    for v in range(10):
        rows += [(1, 100 + v, s, 1 if s == v % 6 else 0) for s in range(6)]
    df = spark.createDataFrame(rows, "gene int, variant int, s int, gt int")
    out = {r.gene: r for r in
           tajima_d(df, "gene", "variant", "gt").collect()}
    mono = out[0]
    assert mono.s_sites == 0 and mono.theta_w is None and mono.tajima_d is None
    sing = out[1]
    assert sing.s_sites == 10 and sing.n_chrom == 12
    # each singleton site: pi_site = 1*11 / C(12,2) = 11/66 = 1/6
    assert sing.pi == pytest.approx(10 / 6, abs=1e-6)
    assert sing.tajima_d is not None and sing.tajima_d < 0


def test_hamming_topk_recovers_exact_on_separated_data(spark):
    """Vectors built from two well-separated clusters: the Hamming
    shortlist + exact re-rank must return exactly the brute-force
    top-k (the thermometer code preserves cluster separation), and the
    code scan must never emit self-matches."""
    from clinpy_spark.operators.similarity import (
        brute_force_topk, hamming_topk)

    import random
    rng = random.Random(7)
    rows = []
    for i in range(40):
        base = 1.0 if i % 2 == 0 else -1.0
        rows.append(
            (i, [base + rng.uniform(-0.05, 0.05) for _ in range(16)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r.query_id, r.match_id)
             for r in brute_force_topk(df.filter(F.col("vec_id") < 6),
                                       df, k=5).collect()}
    got = hamming_topk(df.filter(F.col("vec_id") < 6), df, k=5,
                       shortlist=25).collect()
    assert {(r.query_id, r.match_id) for r in got} == exact
    assert all(r.query_id != r.match_id for r in got)


def test_brown_forsythe_equal_vs_unequal_spread(spark):
    """Identically-dispersed groups score F ~ 0; a group with 10x the
    spread drives F large. Median centering: a shifted group with the
    SAME spread must not inflate F."""
    from clinpy_spark.operators.assoc import brown_forsythe

    rows = []
    for i in range(40):
        v = (i % 5) - 2.0
        rows += [("a", v), ("b", v + 100.0)]       # same spread, shifted
        rows += [("c", v * 10.0)]                  # 10x spread
    df = spark.createDataFrame(rows, "g string, x double")
    out = brown_forsythe(df, "x", "g").collect()[0]
    assert out.k == 3 and out.n == 120
    assert out.df1 == 2 and out.df2 == 117
    assert out.f_stat is not None and out.f_stat > 10
    ab = brown_forsythe(
        df.filter(F.col("g") != "c"), "x", "g").collect()[0]
    assert ab.f_stat is not None and ab.f_stat < 0.5


def test_cox_ph_check_constant_hazard_ratio(spark):
    """With x constant (no covariate signal) beta is NULL and rho
    NULL; with a real two-arm cohort rho is defined and bounded."""
    from clinpy_spark.operators.survival import cox_ph_check

    rows = [
        (1, 1, 1), (2, 1, 1), (3, 1, 1), (4, 0, 1), (6, 1, 1),
        (5, 1, 0), (7, 1, 0), (8, 0, 0), (9, 1, 0), (10, 0, 0),
    ]
    df = spark.createDataFrame(rows, "t long, evt int, x int")
    out = cox_ph_check(df, "t", "evt", "x").collect()[0]
    assert out.beta is not None
    assert out.rho_ph is not None and -1 <= out.rho_ph <= 1
    assert out.n_times == 7 and out.n_events == 7
    const = spark.createDataFrame(
        [(1, 1, 1), (2, 1, 1), (3, 0, 1)], "t long, evt int, x int")
    out2 = cox_ph_check(const, "t", "evt", "x").collect()[0]
    assert out2.beta is None and out2.rho_ph is None


def test_life_table_textbook(spark):
    """Hand-computed actuarial table, width 10: interval 0 has 2
    events + 2 withdrawals of 6 entrants -> eff_n 5, q 0.4, S 0.6;
    interval 1 inherits the 2 survivors."""
    from clinpy_spark.operators.survival import life_table

    rows = [
        ("a", 1, 1), ("a", 5, 1), ("a", 3, 0), ("a", 8, 0),
        ("a", 12, 1), ("a", 15, 0),
    ]
    df = spark.createDataFrame(rows, "g string, t long, evt int")
    out = {r.interval_start: r for r in
           life_table(df, "t", "evt", "g", width=10.0).collect()}
    i0 = out[0.0]
    assert (i0.n_enter, i0.n_events, i0.n_censored) == (6, 2, 2)
    assert i0.eff_n == 5.0 and i0.q == 0.4
    assert i0.survival == pytest.approx(0.6)
    i1 = out[10.0]
    assert i1.n_enter == 2 and i1.eff_n == 1.5
    assert i1.survival == pytest.approx(round(0.6 * (1 - 1 / 1.5), 6))


def test_seasonal_decompose_recovers_planted_pattern(spark):
    """A pure weekly sawtooth on a flat level: trend ~ level wherever
    defined, seasonal reproduces the sawtooth (centered), remainder
    ~ 0; edge periods (no full MA window) have NULL trend."""
    from clinpy_spark.operators.windows import seasonal_decompose

    level, pattern = 100.0, [0, 7, 14, 21, 28, 35, 42]
    # pattern mean = 21; centered seasonal = pattern - 21
    rows = [(float(i), level + pattern[i % 7]) for i in range(28)]
    df = spark.createDataFrame(rows, "p double, x double")
    out = {r.p: r for r in
           seasonal_decompose(df, "p", "x", season=7).collect()}
    assert out[0.0].trend is None and out[27.0].trend is None
    mid = out[10.0]
    assert mid.trend == pytest.approx(121.0)      # level + pattern mean
    assert mid.seasonal == pytest.approx(pattern[3] - 21.0)
    assert mid.remainder == pytest.approx(0.0, abs=1e-6)


def test_modularity_two_cliques_vs_random_split(spark):
    """Two disjoint triangles: the natural 2-community split scores
    the known Q = 1/2 - 1/4... compute: each community e_c=3, m=6,
    deg_c=6 -> Q = 2*(3/6 - (6/12)^2) = 0.5; a single-community
    assignment scores Q = 1 - 1 = 0 for the same graph."""
    from clinpy_spark.operators.graph import modularity

    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
    df = spark.createDataFrame(edges, "u long, v long")
    good = spark.createDataFrame(
        [(n, 1 if n < 10 else 2) for n in (1, 2, 3, 10, 11, 12)],
        "node long, community long")
    out = modularity(df, "u", "v", good).collect()[0]
    assert out.n_communities == 2 and out.n_edges == 6
    assert out.intra_edges == 6
    assert out.modularity == pytest.approx(0.5)
    allone = good.select("node", F.lit(1).alias("community"))
    out2 = modularity(df, "u", "v", allone).collect()[0]
    assert out2.modularity == pytest.approx(0.0)


def test_anova_oneway_closed_form(spark):
    """Two groups with means 0 and 10, equal spread: F matches the
    hand-computed ratio; equal-mean groups score F ~ 0; a constant
    dataset returns NULL (ss_within = 0)."""
    from clinpy_spark.operators.assoc import anova_oneway

    rows = [("a", v) for v in (-1.0, 0.0, 1.0)] + \
           [("b", v) for v in (9.0, 10.0, 11.0)]
    df = spark.createDataFrame(rows, "g string, x double")
    out = anova_oneway(df, "x", "g").collect()[0]
    # ssb = 2 * 3 * 5^2 = 150; ssw = 4; F = (150/1)/(4/4) = 150
    assert out.f_stat == pytest.approx(150.0)
    assert out.df1 == 1 and out.df2 == 4
    const = spark.createDataFrame(
        [("a", 5.0), ("b", 5.0)], "g string, x double")
    assert anova_oneway(const, "x", "g").collect()[0].f_stat is None


def test_mendel_errors_classification(spark):
    """Every impossible trio combination is flagged, every possible
    one passes: 0x0->1 err, 0x0->0 ok, 0x2->1 ok, 0x2->0 err,
    0x2->2 err, 2x2->2 ok, 2x2->1 err, 1x1->anything ok, 0x1->2 err;
    a NULL genotype is uninformative, never an error."""
    from clinpy_spark.operators.assoc import mendel_errors

    rows = [
        (1, 0, 0, 1, True), (2, 0, 0, 0, False),
        (3, 0, 2, 1, False), (4, 0, 2, 0, True), (5, 0, 2, 2, True),
        (6, 2, 2, 2, False), (7, 2, 2, 1, True),
        (8, 1, 1, 0, False), (9, 1, 1, 2, False),
        (10, 0, 1, 2, True), (11, 0, 1, 1, False),
        (12, None, 1, 1, None),
    ]
    df = spark.createDataFrame(
        [(v, f, m, c) for v, f, m, c, _ in rows],
        "v long, f int, m int, c int")
    out = {r.v: r for r in
           mendel_errors(df, "v", "f", "m", "c").collect()}
    for v, f, m, c, want_err in rows:
        r = out[v]
        if want_err is None:
            assert r.n_uninformative == 1 and r.n_errors == 0
            assert r.error_rate is None
        else:
            assert r.n_errors == (1 if want_err else 0), (v, f, m, c)
            assert r.error_rate == (1.0 if want_err else 0.0)


def test_polygenic_score_hand_computed(spark):
    """PRS = sum(dosage * weight) over the scored variants only;
    unweighted variants and NULL genotypes don't contribute."""
    from clinpy_spark.operators.assoc import polygenic_score

    geno = spark.createDataFrame(
        [("s1", 1, 2), ("s1", 2, 1), ("s1", 3, 2), ("s2", 1, 0),
         ("s2", 2, None)],
        "s string, v long, gt int")
    weights = spark.createDataFrame(
        [(1, 0.5), (2, -0.25)], "v long, w double")
    out = {r.s: r for r in
           polygenic_score(geno, weights, "s", "v", "gt", "w").collect()}
    assert out["s1"].prs == pytest.approx(2 * 0.5 + 1 * -0.25)
    assert out["s1"].n_variants_scored == 2   # variant 3 unweighted
    assert out["s2"].prs == pytest.approx(0.0)
    assert out["s2"].n_variants_scored == 1   # NULL gt dropped
