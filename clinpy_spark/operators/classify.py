"""Model-based document quality scoring: a hashed-features logistic
regression trained on the corpus's OWN weak labels — the fastText-style
quality classifier step of production pre-training pipelines (CCNet /
LLaMA-style data curation; public method), expressed as Spark ML over
the repo's canonical tokenization.

Why model-based next to the rule gates (``operators/curate.py``): the
Gopher rules are precise but brittle outside the domains they were
tuned on; the standard move trains a cheap linear model on weak labels
(rules firing, a trusted-corpus sample) and scores everything with it —
the model generalizes the rules' signal to feature combinations the
hand thresholds never enumerate, and its probability output gives a
tunable keep threshold instead of a hard gate.

Scale shape:
- **Features need no fit**: ``HashingTF`` counts over ``norm_tokens``
  into a fixed ``n_features`` vector — one pass, no vocabulary table,
  executor-local hashing (the hashing-trick half of fastText).
- **Training is bounded**: the labeled sample is capped (``train_cap``
  prefix — the same bounded-fit contract as KMeans/PQ codebooks) and
  collected ONCE; the L-BFGS iterations run driver-side in numpy (the
  previous Spark ML LBFGS paid one treeAggregate job per iteration over
  the same bounded sample — pure scheduling for a KiB-sized result).
  The model is a coefficient vector of KiB.
- **Scoring is one ``model.transform``** — JVM-vectorized, linear in
  the corpus, trivially parallel.
- **Verification is contract-gated** like the ANN recall gates: a
  linear model's exact coefficients are solver detail, so the driver
  gate pins training-set accuracy above a floor (measured with wide
  margin) and the DuckDB oracle recomputes the engine-independent
  label counts and pins ``passed`` — a feature/label/solver regression
  flips the hash.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clinpy_spark.functions.text import norm_tokens


def hashed_features(
    docs: DataFrame,
    text_col: str = "text",
    n_features: int = 1024,
    out_col: str = "features",
) -> DataFrame:
    """Hashing-trick term-frequency vector per document (no vocabulary
    pass): ``norm_tokens`` -> ``HashingTF(n_features)``."""
    from pyspark.ml.feature import HashingTF

    toked = docs.withColumn("__toks", norm_tokens(text_col))
    tf = HashingTF(inputCol="__toks", outputCol=out_col, numFeatures=n_features)
    return tf.transform(toked).drop("__toks")


class LinearQualityModel:
    """L2-regularized logistic model as a plain (weights, intercept)
    pair — KiB of floats closed over by the scoring UDF, the same
    broadcast-everywhere property the Spark ML model had. ``transform``
    appends ``quality_prob``/``keep_pred`` with ONE Arrow pass
    (vector_to_array -> numpy GEMV per batch)."""

    def __init__(self, weights, intercept: float):
        self.weights = np.asarray(weights, dtype=np.float64)
        self.intercept = float(intercept)

    def transform(self, df: DataFrame, features_col: str = "features",
                  prob_col: str = "quality_prob",
                  pred_col: str = "keep_pred") -> DataFrame:
        from pyspark.ml.functions import vector_to_array

        w, b = self.weights, self.intercept

        @F.pandas_udf("double")
        def _margin(arrs: pd.Series) -> pd.Series:
            x = np.asarray(list(arrs), dtype=np.float64)
            return pd.Series(x @ w + b)

        m = _margin(vector_to_array(features_col))
        return df.withColumn(prob_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-m))) \
                 .withColumn(pred_col, (F.col(prob_col) > 0.5).cast("int"))


def _fit_logistic_driver(x_indptr, x_indices, x_values, y, n_features,
                         reg_param: float, max_iter: int):
    """L-BFGS (two-loop recursion, Armijo backtracking) on the standard
    L2-regularized mean log-loss over a CSR matrix — the textbook
    Nocedal-Wright algorithm in numpy. The sample is train_cap-bounded
    by the caller, so this is constant-size driver work (guide §1.2:
    25 Spark jobs of scheduling for a KiB-sized solve was the whole
    cost of the previous Spark ML LBFGS fit). Coefficients are solver
    detail by the declared contract (the gate pins accuracy >= floor,
    not coefficients)."""
    n = len(y)
    yv = np.asarray(y, dtype=np.float64)
    counts = np.diff(x_indptr)
    row_of = np.repeat(np.arange(n), counts)

    def f_g(wb):
        w, b = wb[:-1], wb[-1]
        # per-row segment sum of the CSR products; rows with no features
        # (anywhere, trailing ones included) get exactly 0
        z = np.bincount(row_of, weights=x_values * w[x_indices],
                        minlength=n) + b
        # stable log(1+exp(-yz)) with y in {0,1}: loss = log1p(exp(z)) - y*z
        loss = np.logaddexp(0.0, z) - yv * z
        p = 1.0 / (1.0 + np.exp(-z))
        r = (p - yv) / n
        gw = np.bincount(x_indices, weights=x_values * np.repeat(r, counts),
                         minlength=n_features) + reg_param * w
        f = loss.mean() + 0.5 * reg_param * float(w @ w)
        return f, np.concatenate([gw, [r.sum()]])

    wb = np.zeros(n_features + 1)
    f, g = f_g(wb)
    s_l, y_l, rho = [], [], []
    for _ in range(max_iter):
        q = g.copy()
        alphas = []
        for s, yk, r in zip(reversed(s_l), reversed(y_l), reversed(rho)):
            a = r * (s @ q)
            alphas.append(a)
            q -= a * yk
        gamma = (s_l[-1] @ y_l[-1]) / (y_l[-1] @ y_l[-1]) if y_l else 1.0
        z = gamma * q
        for (s, yk, r), a in zip(zip(s_l, y_l, rho), reversed(alphas)):
            z += (a - r * (yk @ z)) * s
        p = -z
        gp = g @ p
        if gp >= 0:  # lost descent (numerical) — reset to steepest
            p, gp = -g, -(g @ g)
        t = 1.0
        while True:
            wb_n = wb + t * p
            f_n, g_n = f_g(wb_n)
            if f_n <= f + 1e-4 * t * gp or t < 1e-12:
                break
            t *= 0.5
        s, yk = wb_n - wb, g_n - g
        sy = s @ yk
        if sy > 1e-12:
            s_l.append(s)
            y_l.append(yk)
            rho.append(1.0 / sy)
            if len(s_l) > 10:
                s_l.pop(0), y_l.pop(0), rho.pop(0)
        wb, f, g = wb_n, f_n, g_n
        if float(np.abs(g).max()) < 1e-7:
            break
    return wb[:-1], float(wb[-1])


def train_quality_model(
    labeled: DataFrame,
    label_col: str = "label",
    features_col: str = "features",
    train_cap: int = 100_000,
    max_iter: int = 50,
    reg_param: float = 0.01,
) -> LinearQualityModel:
    """Fit the logistic model on a bounded prefix of the labeled
    corpus -> a :class:`LinearQualityModel` (KiB of coefficients).

    The bounded sample (``train_cap`` rows of sparse 1024-dim TF
    vectors, a few hundred MB worst-case, ~MBs on real corpora) is
    collected ONCE and the L-BFGS iterations run driver-side in numpy —
    the previous Spark ML LBFGS paid one treeAggregate job per
    iteration over this same bounded, checkpointed sample (~25 jobs of
    pure scheduling for a KiB-sized result; guide §1.2). Labeling,
    feature hashing, and scoring stay distributed."""
    n_features = None
    rows = labeled.select(label_col, features_col).limit(train_cap).collect()
    indptr = [0]
    indices: list = []
    values: list = []
    y = []
    for r in rows:
        v = r[1]
        if n_features is None:
            n_features = v.size
        indices.extend(v.indices)
        values.extend(v.values)
        indptr.append(len(indices))
        y.append(r[0])
    if not rows:
        return LinearQualityModel([], 0.0)
    w, b = _fit_logistic_driver(
        np.asarray(indptr, dtype=np.int64),
        np.asarray(indices, dtype=np.int64),
        np.asarray(values, dtype=np.float64),
        y, n_features, reg_param, max_iter)
    return LinearQualityModel(w, b)


def quality_scores(
    docs: DataFrame,
    model,
    text_col: str = "text",
    n_features: int = 1024,
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document -> (id, quality_prob, keep_pred). One
    feature pass + one model.transform; no shuffle at all."""
    feats = hashed_features(docs, text_col, n_features)
    out = model.transform(feats)
    return out.select(id_col, "quality_prob", "keep_pred")


def quality_model_gate(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 1024,
    accuracy_floor: float = 0.8,
) -> DataFrame:
    """End-to-end gate row: weak-label the corpus with the Gopher rules
    (label 1 = kept), train the hashed-features logistic model on the
    labels, score the same corpus, and assert training-set accuracy
    clears ``accuracy_floor``. Emits (n_docs, n_kept_rules, floor,
    passed) — n_docs/n_kept_rules are engine-recomputable (the rules
    are integer-exact SQL), ``passed`` is pinned by the oracle. A
    degenerate single-class corpus trivially passes (the model learns
    the constant)."""
    from clinpy_spark.operators.curate import (
        GATE_COL,
        gopher_gates,
        gopher_metrics,
        label_gates,
    )

    lab = label_gates(gopher_metrics(docs, text_col), gopher_gates()).select(
        id_col, text_col, F.col(GATE_COL).isNull().cast("int").alias("label")
    )
    feats = hashed_features(lab, text_col, n_features).localCheckpoint(eager=False)
    model = train_quality_model(feats)
    pred = model.transform(feats)
    agg = pred.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("label").cast("long").alias("n_kept_rules"),
        F.sum((F.col("keep_pred") == F.col("label")).cast("int")).alias("__hits"),
    )
    return agg.select(
        "n_docs",
        "n_kept_rules",
        F.lit(accuracy_floor).cast("double").alias("floor"),
        (F.col("__hits") >= F.col("n_docs") * accuracy_floor).alias("passed"),
    )


def roc_auc(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """EXACT ROC-AUC of a score against a binary label: 1 row (auc,
    n_pos, n_neg, n_ties) — the threshold-free quality readout for any
    scorer in this library (gate features, the hashed-feature model,
    retrieval scores). AUC is the probability a random positive
    outranks a random negative, i.e. the normalized Mann-Whitney U:
    AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg) with midranks
    crediting score ties 0.5 (the standard convention). ``n_ties``
    counts CROSS-CLASS tied score values — distinct scores carrying
    both a positive and a negative — the only ties the 0.5 credit
    actually touches.

    Same scale shape as ``mann_whitney_u``: midranks from the
    per-distinct-score aggregate (the cumulative window runs over
    |distinct scores| rows, not the corpus), one 1-row reduce;
    midranks are half-integers so the rank sum is EXACT. NULL auc when
    either class is empty.
    """
    lab = F.col(label_col).cast("int")
    per_val = (
        df.filter(F.col(score_col).isNotNull() & lab.isNotNull())
        .select(F.col(score_col).alias("__s"), lab.alias("__y"))
        .groupBy("__s")
        .agg(
            F.sum("__y").alias("np"),
            F.sum(1 - F.col("__y")).alias("nn"),
        )
    )
    return auc_from_score_counts(per_val)


def auc_from_score_counts(per_val: DataFrame) -> DataFrame:
    """:func:`roc_auc` from an already-aggregated per-distinct-score
    count table (__s, np, nn) — per-score labeled counts are ADDITIVE,
    so a streaming fold maintains them and the live AUC recomputes on
    read (streaming/quality.py finalize_auc), mirroring
    ``ks_from_value_counts``/``ad_from_value_counts``."""
    cnt = (F.col("np") + F.col("nn")).cast("double")
    w_prev = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_val.withColumn(
        "__before",
        F.coalesce(F.sum(F.col("np") + F.col("nn")).over(w_prev), F.lit(0))
        .cast("double"),
    ).withColumn("__midrank", F.col("__before") + (cnt + 1) / 2)
    agg = ranked.agg(
        F.sum(F.col("np").cast("double") * F.col("__midrank")).alias("__rp"),
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
        # cross-class ties only (np > 0 AND nn > 0): within-class
        # duplicate scores never touch the 0.5 midrank credit, so
        # counting them overstated the ties that matter (r11 advice)
        F.sum(F.when((F.col("np") > 0) & (F.col("nn") > 0), 1)
              .otherwise(0)).alias("n_ties"),
    )
    npos = F.col("n_pos").cast("double")
    nneg = F.col("n_neg").cast("double")
    auc = (F.col("__rp") - npos * (npos + 1) / 2) / (npos * nneg)
    return agg.select(
        F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0),
               F.round(auc, 6)).alias("auc"),
        "n_pos", "n_neg", "n_ties",
    )


def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """EXACT average precision (area under the precision-recall
    curve, step interpolation): 1 row (ap, n_pos, n_neg, baseline) —
    the model-eval readout that matters under CLASS IMBALANCE, where
    ROC-AUC stays rosy because true negatives dominate both its axes.
    ``baseline`` = n_pos/n (a random scorer's AP) for calibration of
    the readout itself.

    AP = sum_k (R_k - R_{k-1}) P_k over DESCENDING distinct scores
    (ties processed as one block, the standard step convention):
    P_k = TP_k/(TP_k + FP_k) and R_k = TP_k/n_pos from cumulative
    counts. Same scale shape as ``roc_auc``: one groupBy to the
    per-distinct-score (np, nn) table, cumulative windows over
    |distinct scores| rows, one 1-row reduce. NULL when either class
    is empty.
    """
    lab = F.col(label_col).cast("int")
    per_val = (
        df.filter(F.col(score_col).isNotNull() & lab.isNotNull())
        .select(F.col(score_col).alias("__s"), lab.alias("__y"))
        .groupBy("__s")
        .agg(F.sum("__y").alias("np"), F.sum(1 - F.col("__y")).alias("nn"))
    )
    w = Window.orderBy(F.desc("__s")).rowsBetween(
        Window.unboundedPreceding, 0)
    cum = per_val.select(
        "np",
        F.sum("np").over(w).cast("double").alias("tp"),
        F.sum(F.col("np") + F.col("nn")).over(w).cast("double").alias("pred"),
    )
    agg = cum.agg(
        F.sum(F.col("np").cast("double")
              * (F.col("tp") / F.col("pred"))).alias("__num"),
        F.sum("np").alias("n_pos"),
    )
    tot = per_val.agg(
        F.sum("np").alias("__tp"), F.sum("nn").alias("n_neg"))
    j = agg.crossJoin(F.broadcast(tot))
    npos = F.col("n_pos").cast("double")
    n_all = npos + F.col("n_neg").cast("double")
    ok = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    return j.select(
        F.when(ok, F.round(F.col("__num") / npos, 6)).alias("ap"),
        "n_pos", "n_neg",
        F.when(ok, F.round(npos / n_all, 6)).alias("baseline"),
    )


def brier_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Brier score + calibration-error summary for a probabilistic
    scorer: 1 row (n, brier, ece, mce, baseline_brier) — is the score
    a PROBABILITY (brier = mean squared error against the 0/1 label;
    ECE/MCE = weighted-average / max |accuracy - confidence| gap over
    equal-width reliability bins; baseline_brier = p(1-p) ... what a
    constant base-rate forecast scores, the skill reference).

    One corpus aggregate for brier + the reliability-table binning
    (min/max broadcast, binned groupBy) reduced to the 1-row summary —
    no window, no sort; bins over the observed score range like
    ``reliability_table``.
    """
    lab = F.col(label_col).cast("int")
    base = df.filter(
        F.col(score_col).isNotNull() & lab.isNotNull()
    ).select(F.col(score_col).cast("double").alias("__s"),
             lab.cast("double").alias("__y"))
    rng = base.agg(F.min("__s").alias("__lo"), F.max("__s").alias("__hi"))
    j = base.crossJoin(F.broadcast(rng))
    width = F.col("__hi") - F.col("__lo")
    bin_ = F.when(width > 0, F.least(
        F.floor((F.col("__s") - F.col("__lo")) / width * n_bins),
        F.lit(n_bins - 1),
    )).otherwise(F.lit(0)).cast("int")
    bins = (
        j.withColumn("__b", bin_)
        .groupBy("__b")
        .agg(
            F.count(F.lit(1)).alias("nb"),
            F.avg("__s").alias("ms"),
            F.avg("__y").alias("fp"),
        )
    )
    overall = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg((F.col("__s") - F.col("__y"))
              * (F.col("__s") - F.col("__y"))).alias("brier"),
        F.avg("__y").alias("__p"),
    )
    gaps = bins.agg(
        F.sum(F.col("nb").cast("double")
              * F.abs(F.col("fp") - F.col("ms"))).alias("__g"),
        F.max(F.abs(F.col("fp") - F.col("ms"))).alias("mce"),
    )
    out = overall.crossJoin(F.broadcast(gaps))
    return out.select(
        "n",
        F.round("brier", 6).alias("brier"),
        F.round(F.col("__g") / F.col("n").cast("double"), 6).alias("ece"),
        F.round("mce", 6).alias("mce"),
        F.round(F.col("__p") * (1 - F.col("__p")), 6)
        .alias("baseline_brier"),
    )


def roc_auc_by(
    df: DataFrame,
    score_col: str,
    label_col: str,
    by_col: str,
) -> DataFrame:
    """Per-group exact ROC-AUC — :func:`roc_auc` partitioned by
    ``by_col``: (group, auc, n_pos, n_neg, n_ties), one row per group.
    The per-segment / per-fold model readout (cross-validation folds,
    language buckets, time slices) a single pooled AUC hides.

    Same scale shape as the global form, but the midrank window is
    PARTITIONED BY the group — it runs over each group's distinct
    scores, never a corpus-wide unpartitioned sort — and the final
    reduce is one groupBy over the per-(group, score) count table.
    """
    lab = F.col(label_col).cast("int")
    per_val = (
        df.filter(F.col(score_col).isNotNull() & lab.isNotNull()
                  & F.col(by_col).isNotNull())
        .groupBy(F.col(by_col).alias("grp"), F.col(score_col).alias("__s"))
        .agg(F.sum(lab).alias("np"), F.sum(1 - lab).alias("nn"))
    )
    cnt = (F.col("np") + F.col("nn")).cast("double")
    w_prev = (Window.partitionBy("grp").orderBy("__s")
              .rowsBetween(Window.unboundedPreceding, -1))
    ranked = per_val.withColumn(
        "__before",
        F.coalesce(F.sum(F.col("np") + F.col("nn")).over(w_prev), F.lit(0))
        .cast("double"),
    ).withColumn("__midrank", F.col("__before") + (cnt + 1) / 2)
    agg = ranked.groupBy("grp").agg(
        F.sum(F.col("np").cast("double") * F.col("__midrank")).alias("__rp"),
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
        F.sum(F.when((F.col("np") > 0) & (F.col("nn") > 0), 1)
              .otherwise(0)).alias("n_ties"),
    )
    npos = F.col("n_pos").cast("double")
    nneg = F.col("n_neg").cast("double")
    auc = (F.col("__rp") - npos * (npos + 1) / 2) / (npos * nneg)
    return agg.select(
        "grp",
        F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0),
               F.round(auc, 6)).alias("auc"),
        "n_pos", "n_neg", "n_ties",
    )


def reliability_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Calibration/reliability table: (bin, n, mean_score, frac_pos) —
    does a score's VALUE mean what it claims (are 0.8-scored items
    positive 80% of the time), the property AUC deliberately ignores
    (AUC is rank-only). Equal-WIDTH bins over the observed [min, max]
    (the max lands in the top bin); degenerate constant scores put
    everything in bin 0.

    One 1-row min/max aggregate broadcast back, one binned groupBy —
    two corpus passes, no window, no sort.
    """
    lab = F.col(label_col).cast("int")
    base = df.filter(
        F.col(score_col).isNotNull() & lab.isNotNull()
    ).select(
        F.col(score_col).cast("double").alias("__s"), lab.alias("__y"))
    rng = base.agg(
        F.min("__s").alias("__lo"), F.max("__s").alias("__hi"))
    j = base.crossJoin(F.broadcast(rng))
    width = F.col("__hi") - F.col("__lo")
    bin_ = F.when(width > 0, F.least(
        F.floor((F.col("__s") - F.col("__lo")) / width * n_bins),
        F.lit(n_bins - 1),
    )).otherwise(F.lit(0)).cast("int")
    return (
        j.withColumn("bin", bin_)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("__s"), 6).alias("mean_score"),
            F.round(F.avg(F.col("__y").cast("double")), 6).alias("frac_pos"),
        )
    )


def gains_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Cumulative gains / lift / KS table for a score against a binary
    label, one row per DISTINCT score value descending (highest score
    = first targeted): (score, n, positives, cum_n, cum_pos, depth,
    gain, lift, ks). The campaign-targeting / model-triage companion
    to :func:`roc_auc` — gain is the capture rate at each depth
    (what fraction of all positives the top slice holds), lift =
    gain / depth, and ks = cum_pos/P - cum_neg/(N-P) is the
    Kolmogorov-Smirnov separation at that threshold (its max over
    rows is the classical KS statistic).

    Threshold-resolved rather than decile-resolved ON PURPOSE: a
    decile table needs a total order (a global ntile sort plus an
    arbitrary intra-tie split); the per-threshold curve is
    tie-unambiguous, carries strictly more information (any decile
    table is a linear interpolation of it), and is computable with
    one groupBy to the bounded distinct-score grid plus one ordered
    window. Band a continuous score first — output cardinality is
    |distinct scores| by contract. Exact integer counts until the
    final ratios (round-6, hash-deterministic).
    """
    lab = F.col(label_col).cast("int")
    per = (
        df.filter(F.col(score_col).isNotNull() & lab.isNotNull())
        .groupBy(F.col(score_col).cast("double").alias("score"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(lab).alias("positives"))
    )
    w_cum = (Window.orderBy(F.desc("score"))
             .rowsBetween(Window.unboundedPreceding, 0))
    w_all = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    g = (
        per.withColumn("cum_n", F.sum("n").over(w_cum))
        .withColumn("cum_pos", F.sum("positives").over(w_cum))
        .withColumn("__nn", F.sum("n").over(w_all))
        .withColumn("__pp", F.sum("positives").over(w_all))
    )
    nn = F.col("__nn").cast("double")
    pp = F.col("__pp").cast("double")
    depth = F.col("cum_n") / nn
    gain = F.when(pp > 0, F.col("cum_pos") / pp)
    neg = (F.col("cum_n") - F.col("cum_pos")) / (nn - pp)
    return g.select(
        F.col("score"),
        F.col("n").cast("long").alias("n"),
        F.col("positives").cast("long").alias("positives"),
        F.col("cum_n").cast("long").alias("cum_n"),
        F.col("cum_pos").cast("long").alias("cum_pos"),
        F.round(depth, 6).alias("depth"),
        F.round(gain, 6).alias("gain"),
        F.when(pp > 0, F.round(gain / depth, 6) + 0.0).alias("lift"),
        F.when((pp > 0) & (pp < nn),
               F.round(F.col("cum_pos") / pp - neg, 6) + 0.0).alias("ks"),
    )
