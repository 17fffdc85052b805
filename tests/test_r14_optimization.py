"""Round-14 optimization pins.

- The numpy XXH64 fast-path minhash signature equals the JVM
  ``F.min(F.xxhash64(shingle_hash, lit(i)))`` form value-for-value
  (r13 verdict #3 — the md5 twin already had this pin; the fast path's
  main consumer ``dedup_minhash_lsh`` is rows-only, so a numpy edge
  regression would otherwise drift silently).
- The survival Newton fitters' bounded-grid guard: past
  ``_GRID_DRIVER_MAX`` rows the steps run as the distributed per-step
  recurrence, and both branches emit identical results (r13 verdict
  #2 — distinct event times are data-sized, so the driver collect must
  be capped).
- The driver-side reduction order is deterministic by construction:
  any input partitioning yields bit-identical unrounded emissions
  (r13 verdict #1 — collect order varies with partition layout, which
  is exactly what flipped surv_cox_multi's driver record).
- Divergent Newton steps (huge beta) emit NULL like the old
  inf -> NaN distributed plan instead of raising OverflowError
  (ADVICE r13), on both moments backends of the binary-covariate
  fitter.
- The binary-covariate Cox family (cox_newton, stratified, time-
  varying, Fine-Gray) and the proportional-hazards check pin no RDD on
  their driver path.
- The Cox-multi (cell x event-time) grid built on the driver from one
  bounded leaver collect equals the Spark-built grid row for row, and a
  leaver table under the cap whose grid is over it takes the
  distributed fallback.
- The Fine-Gray distributed fallback honours ``digits``; the
  logistic driver fit is exact with trailing empty-feature rows.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import clinpy_spark.operators.survival as surv


def _mixed_docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy cat"),
        Row(doc_id=3, text="completely different content here with words"),
        Row(doc_id=4, text=""),          # empty text -> single shingle
        Row(doc_id=5, text="one two"),   # fewer tokens than shingle_n
        Row(doc_id=6, text="  spaced   out    tokens   everywhere  "),
    ]
    return spark.createDataFrame(rows)


def test_minhash_fast_signature_matches_jvm_xxhash64(spark):
    # value-for-value pin of the vectorized XXH64 signature against the
    # explode + F.min(F.xxhash64(h, lit(i))) JVM form it replaced
    from clinpy_spark.functions.text import hashed_shingles_from, token_hashes
    from clinpy_spark.operators.dedup import minhash_signature

    df = _mixed_docs(spark)
    nh = 16
    got = {
        r["doc_id"]: list(r["minhash"])
        for r in minhash_signature(
            df, "doc_id", "text", num_hashes=nh, shingle_n=3).collect()
    }

    sh = df.select(
        "doc_id", token_hashes("text").alias("__th")
    ).select(
        "doc_id",
        F.explode(F.array_distinct(
            hashed_shingles_from("__th", 3))).alias("__h"),
    )
    ref_rows = sh.groupBy("doc_id").agg(*[
        F.min(F.xxhash64(F.col("__h"), F.lit(i))).alias(f"m{i}")
        for i in range(nh)
    ]).collect()
    ref = {r["doc_id"]: [r[f"m{i}"] for i in range(nh)] for r in ref_rows}

    assert set(got) == set(ref)
    for k in ref:
        assert got[k] == ref[k], k


def _cohort(spark, n=40):
    # deterministic small cohort with many distinct event times
    rows = []
    for i in range(n):
        rows.append(Row(
            t=float(i % 17 + 1) + (0.5 if i % 5 == 0 else 0.0),
            e=1 if i % 3 != 0 else 0,
            x=1.0 if i % 2 == 0 else 0.0,
            x2=float((i // 2) % 2),
            x3=float(i % 3),
        ))
    return spark.createDataFrame(rows)


def _binary_family(df):
    # the four binary-covariate fits over one cohort: (t, e, x) plus a
    # 3-level stratum, one (0, t] episode per subject, and a status with
    # the x3 == 2 events competing
    ep = df.withColumn("a", F.lit(0.0))
    fg = df.withColumn(
        "st", F.when(F.col("e") == 0, 0)
        .when(F.col("x3") == 2.0, 2).otherwise(1))
    return {
        "cox_newton": lambda: surv.cox_newton(df, "t", "e", "x"),
        "cox_newton_stratified": lambda: surv.cox_newton_stratified(
            df, "t", "e", "x", "x3"),
        "cox_newton_tv": lambda: surv.cox_newton_tv(ep, "a", "t", "e", "x"),
        "finegray_newton": lambda: surv.finegray_newton(fg, "t", "st", "x"),
    }


def test_newton_beta_fallback_matches_driver(spark, monkeypatch):
    # every binary-covariate fit, with the grid on the driver and with
    # every grid over the cap (distributed moments)
    family = _binary_family(_cohort(spark))
    fast = {name: build().collect() for name, build in family.items()}
    monkeypatch.setattr(surv, "_GRID_DRIVER_MAX", 0)
    for name, build in family.items():
        slow = build().collect()
        assert fast[name][0]["beta"] is not None, name
        assert [tuple(r) for r in fast[name]] == [tuple(r) for r in slow], name


def _pinned_ids(spark) -> set:
    # Ids, not a count: the context cleaner may release an earlier
    # test's checkpoint at any JVM GC, which would hide a new pin from
    # a before/after size comparison.
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_binary_family_driver_path_pins_no_rdd(spark):
    for name, build in _binary_family(_cohort(spark)).items():
        before = _pinned_ids(spark)
        out = build().collect()
        assert out[0]["beta"] is not None, name
        assert not _pinned_ids(spark) - before, name


def test_ph_check_pins_no_rdd(spark):
    # the residual trend reads the grid a second time and recomputes it
    # instead of checkpointing it
    before = _pinned_ids(spark)
    out = surv.cox_ph_check(_cohort(spark), "t", "e", "x").collect()
    assert out[0]["beta"] is not None
    assert not _pinned_ids(spark) - before


def test_cox_multi_fallback_matches_driver(spark, monkeypatch):
    from clinpy_spark.operators.survival import cox_newton_multi

    df = _cohort(spark)
    fast = cox_newton_multi(df, "t", "e", ["x", "x2", "x3"],
                            iterations=4).collect()
    monkeypatch.setattr(surv, "_GRID_DRIVER_MAX", 0)
    slow = cox_newton_multi(df, "t", "e", ["x", "x2", "x3"],
                            iterations=4).collect()
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]


def test_cox_multi_reduction_order_partition_invariant(spark):
    # the r13 driver red record's root cause: collect order depends on
    # partition layout. The sorted reduction must emit bit-identical
    # UNROUNDED values under any repartitioning of the input.
    from clinpy_spark.operators.survival import cox_newton_multi

    df = _cohort(spark, n=60)
    base = None
    for parts in (1, 3, 7):
        out = cox_newton_multi(
            df.repartition(parts), "t", "e", ["x", "x2"],
            iterations=4, digits=None).collect()[0]
        vals = tuple(out)
        if base is None:
            base = vals
        else:
            assert vals == base, parts


def test_py_shingle_set_matches_jvm_shingles(spark):
    # the portable minhash signature now builds shingles inside its
    # Arrow pass; the Python twin must match array_distinct(shingles())
    # exactly — any string diff silently changes the md5 signature
    from clinpy_spark.functions.text import py_shingle_set, shingles

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "",
        " ",
        "one two",
        "one",
        "  leading and trailing  ",
        "\tleading tab",
        "internal\ttab and\nnewline and\x0bvtab and\fform and\rcr",
        "Mixed CASE Tokens HERE and MORE of THEM",
        "repeat repeat repeat repeat repeat repeat",
        "unicode café ÉCLAIR straße tokens here",
        "double  space   collapse    everywhere here now",
        "a b c d e f g h i j",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    for n in (2, 3, 5):
        jvm = {r["i"]: set(r["sh"]) for r in df.select(
            "i", F.array_distinct(shingles("text", n)).alias("sh")
        ).collect()}
        for i, t in enumerate(texts):
            assert py_shingle_set(t, n) == jvm[i], (n, i, t)


def test_newton_divergence_emits_null_not_overflow(spark, monkeypatch):
    # a grid whose first Newton step is ~1e12 pushes exp(beta) past the
    # float range on step 2: the old distributed plan propagated
    # inf -> NaN -> NULL; both moments backends (driver rows, then the
    # grid aggregate past the cap) must do the same, not raise
    grid = spark.createDataFrame(
        [Row(__t=1.0, n=10**12, n1=1, d=1, d1=1)])
    for cap in (surv._GRID_DRIVER_MAX, 0):
        monkeypatch.setattr(surv, "_GRID_DRIVER_MAX", cap)
        beta, info, n_events = surv._fit_binary_cox(grid, 3)
        assert beta is None and info is None and n_events == 1, cap
        cols = dict(surv._binary_cox_cols(beta, info, n_events))
        assert cols == {"beta": None, "hr": None, "se": None,
                        "wald_chi2": None, "n_events": 1}, cap


def test_newton_beta_reduction_order_partition_invariant(spark):
    # the binary-covariate driver loop sorts the grid by time before
    # accumulating, so the unrounded fit does not depend on the grid's
    # partition layout or row order
    df = _cohort(spark, n=60)
    grid_rows = surv._binary_event_grid(df, "t", "e", "x").collect()
    base = None
    for rows, parts in ((grid_rows, 1), (grid_rows[::-1], 3),
                        (grid_rows[1::2] + grid_rows[::2], 7)):
        grid = spark.createDataFrame(rows).repartition(parts)
        fit = surv._fit_binary_cox(grid, 3)
        if base is None:
            base = fit
            assert fit[0] is not None
        else:
            assert fit == base, parts


def _leavers(df, x_cols):
    xs = [f"__x{i}" for i in range(1, len(x_cols) + 1)]
    return df.select(
        F.col("t").alias("__t"), F.col("e").cast("int").alias("__e"),
        *[F.col(c).cast("double").alias(x) for c, x in zip(x_cols, xs)],
    ).groupBy(*xs, "__t").agg(
        F.count(F.lit(1)).alias("__r"), F.sum("__e").alias("__d")), xs


def _spark_grid_rows(leav, xs):
    rows = surv._cox_grid_distributed(leav, xs).select(
        "__t", "__n", "__d", *xs).collect()
    return sorted(((r[0], float(r[1]), int(r[2]), *[float(v) for v in r[3:]])
                   for r in rows), key=lambda row: (row[0],) + row[3:])


def test_cox_multi_driver_grid_equals_spark_grid(spark, monkeypatch):
    df = _cohort(spark)
    x_cols = ["x", "x2", "x3"]
    leav, xs = _leavers(df, x_cols)
    spark_rows = _spark_grid_rows(leav, xs)
    driver_rows = surv._cox_grid_rows_driver(
        leav.select(*xs, "__t", "__r", "__d").collect(), len(xs))
    assert driver_rows == spark_rows
    assert all(type(a) is type(b) for ra, rb in zip(driver_rows, spark_rows)
               for a, b in zip(ra, rb))

    new = surv.cox_newton_multi(df, "t", "e", x_cols, iterations=4,
                                digits=None).collect()
    # the previous path: the Spark-built grid, collected and sorted
    monkeypatch.setattr(surv, "_cox_grid_rows_driver",
                        lambda raw, d: _spark_grid_rows(leav, xs))
    old = surv.cox_newton_multi(df, "t", "e", x_cols, iterations=4,
                                digits=None).collect()
    assert [tuple(r) for r in new] == [tuple(r) for r in old]


def test_cox_multi_grid_over_cap_takes_fallback(spark, monkeypatch):
    df = _cohort(spark)
    x_cols = ["x", "x2", "x3"]
    leav, xs = _leavers(df, x_cols)
    n_leavers = leav.count()
    n_cells = leav.select(*xs).distinct().count()
    n_times = leav.filter(F.col("__d") > 0).select("__t").distinct().count()
    assert n_leavers < n_cells * n_times
    fast = surv.cox_newton_multi(df, "t", "e", x_cols,
                                 iterations=4).collect()

    built = []
    spark_grid = surv._cox_grid_distributed

    def spy(leav_, xs_):
        built.append(1)
        return spark_grid(leav_, xs_)

    monkeypatch.setattr(surv, "_cox_grid_distributed", spy)
    monkeypatch.setattr(surv, "_GRID_DRIVER_MAX", n_leavers)
    slow = surv.cox_newton_multi(df, "t", "e", x_cols,
                                 iterations=4).collect()
    assert built, "the fallback grid was not built"
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]


def test_finegray_fallback_honours_digits(spark, monkeypatch):
    rows = [Row(t=float(i % 13 + 1), st=(0, 1, 2, 1)[i % 4] if i % 7 else 1,
                x=i % 2) for i in range(80)]
    leav = surv.finegray_leavers(spark.createDataFrame(rows), "t", "st", "x")
    fitters = (surv.finegray_score_from_leavers,
               surv.finegray_newton_from_leavers)
    driver = [f(leav, digits=None).collect()[0] for f in fitters]
    monkeypatch.setattr(surv, "_GRID_DRIVER_MAX", 0)
    for f, ref in zip(fitters, driver):
        raw = f(leav, digits=None).collect()[0]
        r3 = f(leav, digits=3).collect()[0]
        for k in ref.asDict():
            if isinstance(ref[k], float):
                assert raw[k] == pytest.approx(ref[k], rel=1e-12, abs=1e-12), k
                assert r3[k] == round(ref[k], 3), k
            else:
                assert raw[k] == ref[k] == r3[k], k
        # unrounded on the fallback too, not silently rounded to 6
        assert any(isinstance(v, float) and v != round(v, 6)
                   for v in raw.asDict().values())


def test_logistic_driver_fit_exact_with_trailing_empty_rows():
    # rows with no features after the last non-empty row used to clamp
    # that row's reduceat segment and drop its final feature term
    import numpy as np

    from clinpy_spark.operators.classify import _fit_logistic_driver

    feats = [[(0, 1.0), (1, 2.0), (2, 4.0)], [(1, 0.5)], [(0, -1.0), (2, 3.0)],
             [(0, 0.5), (1, 1.5), (2, -2.0)], [], []]
    y = [1, 0, 1, 0, 1, 0]

    def fit(order):
        indptr, indices, values = [0], [], []
        for i in order:
            indices += [j for j, _ in feats[i]]
            values += [v for _, v in feats[i]]
            indptr.append(len(indices))
        return _fit_logistic_driver(
            np.asarray(indptr, dtype=np.int64),
            np.asarray(indices, dtype=np.int64),
            np.asarray(values, dtype=np.float64),
            [y[i] for i in order], 3, 0.1, 50)

    w_tail, b_tail = fit([0, 1, 2, 3, 4, 5])   # empty rows trailing
    w_head, b_head = fit([4, 5, 0, 1, 2, 3])   # empty rows leading
    assert np.allclose(w_tail, w_head, rtol=1e-9, atol=1e-12)
    assert b_tail == pytest.approx(b_head, rel=1e-9, abs=1e-12)
