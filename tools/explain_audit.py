"""Physical-plan audit over the full query registry.

For every ``queries()`` entry, captures ``explain(formatted)`` and flags
scale hazards:

- CartesianProduct / BroadcastNestedLoopJoin — O(n*m) joins that won't
  survive a 100x scale-up (allowed only where declared intentional,
  e.g. brute-force similarity whose contract IS all-pairs scoring).
- Parquet scans with no PushedFilters although the query filters on
  scanned columns (pushdown lost).
- Single-exchange-per-aggregate checks are left to eyeballing the dump.

Writes PLANS.md (summary table + per-query verdicts) and exits non-zero
if an unexpected hazard appears. Usage:

    python tools/explain_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import io
import re
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from clinpy_spark import queries as Q  # noqa: E402
from clinpy_spark.session import get_spark  # noqa: E402

#: Queries whose contract is all-pairs scoring — a nested-loop/cartesian
#: shape is the declared algorithm, not an accident (each has a bucketed
#: scale-path twin in the registry).
EXPECTED_UNBOUNDED = {
    "sim_topk_bruteforce",  # exact baseline; LSH twin = sim_topk_lsh
    "sim_topk_ivf",  # cross join vs the CONSTANT-size broadcast centroid
                     # table (n_centroids rows) for argmin cell assignment —
                     # linear in the corpus, not a pair blowup
    "sim_topk_ivfpq",  # same _nearest_cells centroid cross join (the ADC
                       # scan itself is an equi-join on cell + code gathers)
    "sim_range_search",  # radius twin of sim_topk_bruteforce — same
                         # declared all-pairs baseline (LSH/IVF = scale path)
    "tpch_q22_idle_rich",  # BNLJ vs a ONE-ROW broadcast threshold — the
                           # scalar-subquery plan Spark itself emits;
                           # linear in customer, not a pair blowup
    "tpch_q11_important_stock",  # same 1-row-broadcast scalar shape:
                                 # crossJoin vs the single-row total
    "text_bm25",  # crossJoin vs the 1-row (N, avgdl) corpus constants
    "retrieval_rrf",  # same 1-row corpus-constants crossJoin, via bm25/tfidf scorers
    "text_tfidf_top_term",  # crossJoin vs the 1-row N constant
    "text_lm_surprisal",  # crossJoin vs the 1-row vocabulary-size constant
    "text_kneser_ney",  # crossJoin vs the 1-row (T, n1, n2) bigram
                        # count-of-counts constants (same shape as
                        # text_trigram_ppl)
    # The recall gates measure an approximate operator AGAINST the exact
    # brute-force top-k — the all-pairs baseline is the definition of
    # recall, not an accident; bounded by the 25-query probe set. The
    # ivf/pq flavors add the constant-size centroid cross join and the
    # 1-row n_queries/hit-count scalar joins.
    "sim_recall_lsh",
    "sim_recall_ivf",
    "sim_recall_pq",
    "sim_recall_ivfpq",
    "dedup_embedding_recall",  # same recall-gate shape: exact pair set by
                               # definition needs the all-pairs baseline
    "dedup_semdedup",  # the _nearest_cells centroid cross join vs the
                       # CONSTANT-size broadcast centroid table (same
                       # allowlisted shape as sim_topk_ivf); the pair
                       # join itself is a cell equi-join
    "text_trigram_ppl",  # crossJoin vs the 1-row (N, V) corpus constants —
                         # same shape as text_lm_surprisal
    "sim_recall_sq8",  # recall gate: exact-L2 baseline is the definition
                       # of recall (bounded 25-query probe set)
    "sim_hard_negatives",  # rank-window definition NEEDS the exact scan
                           # over the bounded probe set; the 100 TB path
                           # swaps in an ANN shortlist + identical window
    "surv_finegray_score",  # event-time probe spine crossJoin vs the
                            # <= 2-row LITERAL per-arm cell table (the
                            # bounded side is inlined literals, proven
                            # constant-row by the shape gate) plus the
                            # 1-row counts broadcast
    "surv_finegray_beta",  # same literal cell spine (distributed grid
                           # only) + the 1-row literal fit x counts
    "dx_fleiss_kappa",  # crossJoin vs the ONE-ROW category-moment agg
                        # (p_e / p_j^3 sums) — linear in items
    "dx_kendall_tau",  # inequality join of the bounded joint grid vs
                       # its LITERAL-INLINED copy (<= max_cells rows,
                       # proven constant-row by the shape gate) plus
                       # 1-row tie/total broadcasts — pair work is
                       # |cells|^2, never n^2
    "dx_somers_d",  # same shared _pair_grid_stats machinery (and
                    # contract) as dx_kendall_tau
    "surv_cindex",  # NO pair join at all — the crossJoins are the
                    # 1-row band-list collect_set broadcast (dense-grid
                    # axis, logrank_k pattern) and the 1-row
                    # conc/tied/comp aggregate
    "dx_jonckheere",  # NO pair join — crossJoins are the 1-row ordered
                      # group-list broadcast (dense-grid axis) and the
                      # 1-row J2/group-moment/tie-moment aggregates
    "s19_bootstrap_ci",  # crossJoin vs the ONE-ROW point-estimate agg
    "dx_cohen_kappa",  # crossJoin of the TWO 1-row aggregates (observed
                       # agreement + marginal chance rate) into the
                       # single kappa row — both sides shape-proven
    "curate_feature_ap",  # crossJoin vs the 1-row class-totals agg
    "curate_brier",  # crossJoins vs the 1-row min/max range and the
                     # 1-row bin-gap aggregate (reliability_table shape)
    "gx_breslow_day",  # crossJoin vs the 1-row MH-common-OR aggregate
                       # broadcast back over the bounded stratum grid
    "sim_cluster_quality",  # wss x bss x consts — three 1-row aggregates
    "a16_market_basket",  # crossJoin vs the 1-row basket-count constant
    "text_kmv_overlap",  # two k-length single-row sketches crossJoined —
                         # the entire pair space is ONE row of array math
    "e_pareto_concentration",  # crossJoin vs the ONE-ROW (grand, n_users)
                               # aggregate of the small user-total table
    "sim_knn_graph",  # exact-method brute-force on a bounded slice: the
                      # oracle baseline shape; the lsh method is the scale
                      # path (bucket equi-join, no all-pairs)
    "drift_psi_value",  # crossJoins vs the 1-row decile-edge array and the
                        # 1-row bin-total aggregate — constant-size
                        # broadcasts, linear in the cohorts
    "drift_ks_value",  # crossJoin vs the 1-row (n_a, n_b) totals
    "drift_chi2_lang",
    "q_benford_price",  # crossJoin vs the 1-row digit-total aggregate  # marginal-product spine: |sides| x |categories|
                        # rows (a few dozen), both sides tiny aggregates,
                        # plus the 1-row grand-total broadcast
    "surv_logrank",  # crossJoin vs the 1-row (n_a, n_b) cohort totals
    "gx_ld_r2",  # the genotype GRID synthesis: crossJoin vs the
                 # CONSTANT 200-row broadcast variant range — a fixed-
                 # width row expansion, linear in customers; the LD pair
                 # join itself is a banded equi-join
    "gx_burden_test",  # same constant-width grid expansion + the 1-row
                       # phenotype-totals broadcast
    "gx_roh_runs",  # same constant 200-row broadcast grid expansion
    "dx_diff_expression",  # constant 10-row broadcast gene-range
                           # expansion — fixed-width, linear in customers
    "dx_quantile_normalize",  # same constant 10-row gene-range expansion;
                              # the rank join is a broadcast HASH join
    "graph_triangle_stats",  # crossJoins of the THREE 1-row aggregates
                             # (node/edge/triangle counts) into the
                             # single summary row
    "graph_pagerank",  # crossJoin vs the 1-row node-count broadcast in
                       # every unrolled power step
    "surv_logrank_k",  # the event-grid x group spine rides a 1-row
                       # collect_set broadcast (exploded AFTER the
                       # join) + the 1-row per-arm-counts broadcast
    "surv_logrank_strat",  # crossJoin vs the 1-row (n_a, n_b) cohort
                           # totals (same shape as surv_logrank)
    "surv_cox_score",  # crossJoin vs the 1-row n_subjects count
    "surv_logrank_fh",  # crossJoin vs the 1-row (n_a, n_b) cohort
                        # totals (same shape as surv_logrank)
    "surv_logrank_gehan",  # same logrank_weighted shape under the
                           # n(t) Gehan weighting — same 1-row cohort
                           # totals crossJoin
    "surv_cox_beta",  # the 1-row literal fit crossJoins the 1-row
                      # n_subjects count (same shape as surv_cox_score)
    "surv_cox_tv",  # the 1-row literal fit crossJoins the 1-row
                    # n_episodes sum over the episode-flow table
    "gx_king_kinship",  # the CONSTANT 200-row broadcast variant-range
                        # grid expansion (same shape as gx_ld_r2); the
                        # kinship pair join itself is a variant equi-join
    "drift_js_value",  # crossJoins vs the 1-row decile-edge array and
                       # the 1-row bin-total aggregate (psi shape)
    "drift_w1_value",  # crossJoins vs the 1-row pooled-edge array and
                       # the 1-row (tr, tc) totals (psi shape)
    "gx_cmh_nation",  # the CONSTANT 200-row broadcast variant-range
                      # grid expansion (same shape as gx_ld_r2); the
                      # customer join is a broadcast HASH join
    "e_cusum_shift",  # crossJoin vs the 1-row (n, total) series
                      # aggregate — constant-size broadcast
    "gx_tajima_d",  # the CONSTANT 200-row broadcast variant-range
                    # grid expansion (same shape as gx_ld_r2); the
                    # harmonic-sum join is gene-keyed
    "sim_recall_hamming",  # recall gate: exact brute-force baseline is
                           # the definition of recall (bounded 25-query
                           # probe set), plus the bounded code crossJoin
    "sim_topk_hamming",  # code-only scan vs the LIMIT-bounded probe
                         # set (same declared shape as sim_topk_ivf's
                         # constant-side cross join; corpus streams
                         # linearly, 24 bytes/vector)
    "text_textrank",  # crossJoin vs the 1-row node-count broadcast in
                      # every unrolled power step (pagerank shape)
    "e_seasonal_decompose",  # crossJoin vs the 1-row phase-mean
                             # centering aggregate — constant broadcast
    "graph_modularity",  # crossJoin vs the 1-row edge-count aggregate
                         # (same scalar shape as graph_triangle_stats)
    "gx_mendel",  # the CONSTANT 200-row broadcast variant-range grid
                  # expansion (same shape as gx_ld_r2); trio pivot is
                  # one groupBy
    "gx_prs",  # same constant grid expansion; the weight join is a
               # broadcast HASH join by design
    # -- r11 session-3 (all verified constant-row-side by the shape gate) --
    "dx_kruskal",  # crossJoin vs the 1-row tie-correction aggregate
    "dx_spearman",  # crossJoins vs the two 1-row tie-count aggregates
    "gx_tdt",  # the CONSTANT 200-row broadcast variant-range grid
               # expansion (same shape as gx_mendel)
    "graph_assortativity",  # crossJoin vs the 1-row node-count aggregate
                            # (graph_triangle_stats scalar shape)
    "e_acf",  # crossJoins vs the 1-row series moments and the
              # constant 7-row exploded lag range
    "dx_fisher_exact",  # support explode of the 1-row count aggregate —
                        # whole pipeline is driver-bounded after one scan
    "epi_smr",  # 1-row observed/expected aggregate crossJoin, if AQE
                # ever picks BNLJ for the bounded rate join
    "dx_friedman",  # crossJoin vs the 1-row max-treatment-count and
                    # rank-moment aggregates (kruskal tie shape)
    "curate_dsir_head",  # crossJoin vs the 1-row bucket-total aggregate
                         # (text_bm25 corpus-constants shape)
    "surv_cox_strat",  # the 1-row literal fit crossJoins the 1-row
                       # (n_subjects, n_strata) count (surv_cox_beta
                       # shape)
    "gx_sfs",  # the CONSTANT 200-row broadcast variant-range grid
               # expansion + 1-row histogram-total crossJoin
    "e_pacf",  # same constant-side crossJoins as e_acf (1-row series
               # moments + 3-row lag range), plus the 1-row ACF pivot
    "gx_hwe_exact",  # the CONSTANT 200-row broadcast variant-range grid
                     # expansion (gx_ld_r2 shape); the support explode +
                     # windows are variant-keyed
    "e_theil_sen",  # pairwise-slope self-join of the BOUNDED per-day
                    # series (the estimator's definition; input is
                    # pre-aggregated by contract) + the 1-row slope
                    # median crossJoin
    "text_heavy_hitters",  # crossJoin vs the 1-row total-count
                           # aggregate (text_bm25 corpus-constants
                           # shape); candidates join is broadcast semi
    "curate_calibration",  # crossJoin vs the 1-row (min, max) score
                           # range aggregate — constant broadcast
    "curate_conformal_cut",  # crossJoin vs the 1-row calibration-
                             # quantile aggregate — constant broadcast
    "gx_fisher_scan",  # the CONSTANT 200-row broadcast variant-range
                       # grid expansion (gx_ld_r2 shape); supports +
                       # windows are variant-keyed
    "e_runs_test",  # crossJoin vs the 1-row series-median aggregate —
                    # constant broadcast
    "gx_ld_decay",  # the CONSTANT 200-row broadcast variant-range grid
                    # expansion (gx_ld_r2 shape, 10-position band)
    "dx_permutation_test",  # constant 200-row permutation-index
                            # explode + the 1-row observed-difference
                            # broadcast — fixed-width, linear in users
    "gx_prs_auc",  # the CONSTANT 200-row broadcast variant-range grid
                   # expansion (gx_prs shape); the AUC rank grid is a
                   # score-keyed window
    # -- r14: shapes newly VISIBLE under localCheckpoint barriers (the
    # barrier-capturing audit now sees pre-barrier child plans) --
    "dedup_cluster_components",  # brute-force cosine pair emitter over
                                 # the LIMIT-bounded <200-id slice — the
                                 # declared verification-shaped input
                                 # (oracle rebuilds the same graph);
                                 # both legs Limit-proven constant-row
    "gx_haplotype_em",  # each EM step crossJoins the bounded haplotype
                        # grid vs the 1-row count/frequency aggregate
                        # (a scalar recurrence), under the per-step
                        # checkpoint barrier
}


# ---------------------------------------------------------------------------
# Shape-level unbounded-join detection (r10 verdict #3).
#
# The name allowlist above documents WHY each query legitimately contains a
# nested-loop/cartesian shape, but the audit no longer TRUSTS it: for every
# BNLJ/CartesianProduct in every plan (allowlisted or not) we parse the
# formatted plan tree and assert the build side is a CONSTANT-ROW subtree —
# an aggregate without grouping keys (1 row), a LocalTableScan (driver-local
# constant), a small constant Range, or a Limit — optionally wrapped in
# row-preserving operators. A real large-large nested loop (both sides fed
# by unbounded scans) fails the audit even under an allowlisted name.
# ---------------------------------------------------------------------------

_TREE_RE = re.compile(r"^([:+\-| ]*)(\*\s*)?([A-Za-z][\w .$]*?)\s\((\d+)\)\s*$")
_DETAIL_RE = re.compile(r"^\((\d+)\)\s+\S", re.M)
_BOUNDED_AGGS = {"HashAggregate", "SortAggregate", "ObjectHashAggregate"}
_LIMITS = {"CollectLimit", "GlobalLimit", "LocalLimit", "TakeOrderedAndProject"}
_RANGE_BOUND = 100_000


class _Node:
    __slots__ = ("nid", "name", "depth", "children")

    def __init__(self, nid, name, depth):
        self.nid, self.name, self.depth, self.children = nid, name, depth, []


def _parse_forest(plan: str):
    """Parse every operator tree in a formatted explain dump (main plan +
    subquery plans). Returns (nodes_by_id, roots). Tree lines end with the
    node id — ``* Project (5)``; detail headers start with it — ``(5)
    Project`` — so the two sections don't collide."""
    nodes, roots, stack = {}, [], []
    for line in plan.splitlines():
        m = _TREE_RE.match(line)
        if not m:
            continue
        prefix, _, name, nid = m.groups()
        depth = len(prefix) // 3
        node = _Node(int(nid), name.strip(), depth)
        nodes[node.nid] = node
        while stack and stack[-1].depth >= depth:
            stack.pop()
        if depth == 0 or not stack:
            roots.append(node)
            stack = [node]
        else:
            stack[-1].children.append(node)
            stack.append(node)
    return nodes, roots


def _parse_details(plan: str) -> dict:
    """id -> the detail block text for that operator id."""
    out = {}
    marks = [(m.start(), int(m.group(1))) for m in _DETAIL_RE.finditer(plan)]
    for i, (pos, nid) in enumerate(marks):
        end = marks[i + 1][0] if i + 1 < len(marks) else len(plan)
        out[nid] = plan[pos:end]
    return out


def _subtree_bounded(node: _Node, details: dict, nodes: dict, seen=None) -> bool:
    """True iff the subtree's output row count is bounded by a constant
    regardless of input data size."""
    if seen is None:
        seen = set()
    if node.nid in seen:  # defensive against malformed reuse cycles
        return False
    seen = seen | {node.nid}
    head = node.name.split()[0]
    detail = details.get(node.nid, "")
    if head in _LIMITS:
        return True
    if head in _BOUNDED_AGGS and re.search(r"Keys(?:\s*\[\d+\])?:?\s*\[\]", detail):
        return True
    if head == "LocalTableScan":
        return True
    if node.name.startswith("Scan ExistingRDD"):
        # spark.createDataFrame(<pandas>) renders as Scan ExistingRDD and
        # the formatted plan carries NO row bound for it — trusting it
        # unconditionally would let the first operator that ships a large
        # driver-built relation through the gate silently (r11 verdict
        # #5). Not bounded unless proven: a driver-local relation that IS
        # constant-size renders as LocalTableScan (list input) which the
        # gate does accept; pandas-backed ExistingRDDs must not sit on a
        # nested-loop side at all.
        return False
    if head == "Range":
        m = re.search(r"Range\s*\((-?\d+),\s*(-?\d+)", detail or node.name)
        return bool(m) and int(m.group(2)) - int(m.group(1)) <= _RANGE_BOUND
    if head in ("ReusedExchange", "ReusedSubquery"):
        m = re.search(r"Reuses operator id:\s*(\d+)", detail)
        target = nodes.get(int(m.group(1))) if m else None
        return _subtree_bounded(target, details, nodes, seen) if target else False
    if head == "Scan" or head.startswith(("FileScan", "BatchScan")) or "Scan" in node.name.split()[:1]:
        return False
    if not node.children:
        return False  # unknown leaf (ExistingRDD, stream source, ...) — conservative
    # Joins/unions/generates over all-bounded inputs stay bounded (products
    # and expansions of driver constants); any unbounded child poisons it.
    return all(_subtree_bounded(c, details, nodes, seen) for c in node.children)


def unbounded_join_hazards(plan: str) -> list:
    """Every BNLJ/CartesianProduct whose build side (either side, for
    cartesian) is NOT a constant-row subtree. Returns hazard strings."""
    nodes, roots = _parse_forest(plan)
    details = _parse_details(plan)
    hazards = []
    for node in nodes.values():
        head = node.name.split()[0]
        if head in ("BroadcastNestedLoopJoin", "CartesianProduct"):
            # A nested-loop with ONE constant-row side is linear in the
            # other side (probe x constant), not a pair blowup; the
            # hazard is NEITHER side bounded (large x large).
            if len(node.children) != 2 or not any(
                _subtree_bounded(c, details, nodes) for c in node.children
            ):
                hazards.append(f"{head}({node.nid}): no constant-row side")
    return hazards


# ---------------------------------------------------------------------------
# Barrier capture (r13 verdict #5 / next-round #8): localCheckpoint sites
# render as `Scan ExistingRDD` leaves in the final plan, so the subtree BELOW
# each barrier became invisible to this audit. During query construction we
# intercept DataFrame.localCheckpoint, snapshot the pre-barrier child plan,
# and run the same shape gates over every captured plan — shape hazards can
# no longer hide under a barrier.
# ---------------------------------------------------------------------------

_BARRIER_PLANS: list = []


def _install_barrier_capture(spark):
    # patch the CONCRETE DataFrame class (Spark 4: instances are
    # pyspark.sql.classic.dataframe.DataFrame, which overrides the
    # abstract base's localCheckpoint)
    cls = type(spark.range(1))
    orig = cls.localCheckpoint

    def capturing(self, eager=True):
        buf = io.StringIO()
        with redirect_stdout(buf):
            self.explain("formatted")
        _BARRIER_PLANS.append(buf.getvalue())
        return orig(self, eager=eager)

    cls.localCheckpoint = capturing


def _plan_shape_hazards(plan: str, name: str, tag: str = "") -> list:
    hazards = []
    # Shape gate for EVERY plan: a nested-loop/cartesian whose build side
    # is not provably constant-row is a hazard even under an allowlisted
    # name (the allowlist documents intent; it no longer bypasses checks).
    hazards += [tag + h for h in unbounded_join_hazards(plan)]
    # Name gate: a bounded BNLJ in a query that never declared one still
    # needs a conscious allowlist entry (keeps the inventory honest).
    if "CartesianProduct" in plan and name not in EXPECTED_UNBOUNDED:
        hazards.append(tag + "CartesianProduct")
    if "BroadcastNestedLoopJoin" in plan and name not in EXPECTED_UNBOUNDED:
        hazards.append(tag + "BroadcastNestedLoopJoin")
    return hazards


def audit_one(name: str, fn, spark, sf_dir: str) -> dict:
    _BARRIER_PLANS.clear()
    df = fn(spark, sf_dir)
    barrier_plans = list(_BARRIER_PLANS)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()

    hazards = _plan_shape_hazards(plan, name)
    for i, bp in enumerate(barrier_plans):
        hazards += _plan_shape_hazards(bp, name, tag=f"barrier{i}:")

    n_exchanges = len(re.findall(r"\bExchange\b|\(Exchange", plan)) or plan.count("Exchange")
    n_scans = plan.count("Scan parquet")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    has_pushed = any(p.strip() for p in pushed)
    joins = sorted(set(re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)", plan)))
    return {
        "name": name,
        "plan": plan,
        "hazards": hazards,
        "n_scans": n_scans,
        "pushed": has_pushed,
        "joins": joins,
        "n_exchanges": len(re.findall(r"Exchange ", plan)),
        "n_barriers": len(barrier_plans),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("explain-audit")
    _install_barrier_capture(spark)
    qs = Q.queries()

    results = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            results.append(audit_one(name, fn, spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            results.append({"name": name, "plan": f"ERROR: {e}", "hazards": [f"explain-failed: {e}"],
                            "n_scans": 0, "pushed": False, "joins": [], "n_exchanges": 0,
                            "n_barriers": 0})

    bad = [r for r in results if r["hazards"]]

    lines = [
        "# PLANS — physical-plan audit (`python tools/explain_audit.py`)",
        "",
        f"Scale-hazard scan over all {len(results)} registered queries at"
        f" `{sf_dir}`: CartesianProduct / BroadcastNestedLoopJoin outside the"
        " declared all-pairs baselines, lost parquet filter pushdown."
        " Every localCheckpoint barrier's PRE-barrier child plan is captured"
        " during construction and runs through the same shape gates"
        " (`barriers` column) — hazards cannot hide under an ExistingRDD"
        " leaf (r13 verdict #5).",
        "",
        "| query | join strategies | exchanges | barriers | pushdown | hazards |",
        "|---|---|---|---|---|---|",
    ]
    for r in results:
        lines.append(
            f"| {r['name']} | {', '.join(r['joins']) or '—'} | {r['n_exchanges']} |"
            f" {r.get('n_barriers', 0)} |"
            f" {'✓' if r['pushed'] else '—'} | {', '.join(r['hazards']) or 'none'} |"
        )
    lines += [
        "",
        "`pushdown ✓` = at least one non-empty `PushedFilters` on a parquet"
        " scan (queries with no scan-level filter legitimately show `—`).",
        f"Intentional all-pairs baselines (exempt): {', '.join(sorted(EXPECTED_UNBOUNDED))}.",
        "",
    ]
    if only:
        print("(subset run: PLANS.md not rewritten)")
    else:
        with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
            f.write("\n".join(lines))

    for r in results:
        mark = "HAZARD" if r["hazards"] else "ok"
        print(f"{mark:7s} {r['name']}: joins={r['joins']} exchanges={r['n_exchanges']}"
              f" barriers={r.get('n_barriers', 0)} hazards={r['hazards']}")
    print(f"\n{len(results) - len(bad)} ok, {len(bad)} with hazards -> PLANS.md")
    if bad:
        for r in bad:
            print("\n=== ", r["name"], " ===\n", r["plan"][:4000], sep="")
        sys.exit(1)


if __name__ == "__main__":
    main()
