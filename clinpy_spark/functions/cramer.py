"""Driver-side Newton core: Cramer's-rule solvers whose ARITHMETIC
ORDER matches the DuckDB oracle CTEs token-for-token, the one step rule
that picks among them, and the one Newton loop every fitter runs.

The GLM fitters (``logistic_newton`` / ``poisson_newton`` /
``negbin_newton`` / ``poisson_rate_newton`` and the ``_multi``,
``multinomial`` and ``ordinal`` rungs) and ``cox_newton_multi`` factor
each step as moments over a bounded grid plus a tiny dense solve:
:func:`fit_newton` runs ``moments(beta) -> (u, info)`` then
:func:`newton_step`, and :func:`inverse_diag` gives the variances at
the final beta.  ``info`` maps (r, c), r <= c, of the symmetric m x m
information.  The step rule picks the solver by m in one place:

- m = 1: ``beta + u / i`` and ``1 / i``;
- m = 2: :func:`solve2`; m = 3: :func:`solve3` / :func:`var3_diag`;
- m = 4: :func:`solve_n_py` / :func:`inv_diag_py` (Leibniz, the
  ``dx_multinomial`` oracle's term order);
- m >= 5: numpy (no SQL oracle replays these; a Leibniz determinant
  has m! terms).

Each returns None when the matrix is not positive definite, which the
fitters emit as NULL statistics. The test is det > 0 (False for NaN):
an information matrix is positive semi-definite by construction, so
there det > 0 and positive definiteness coincide.

r12's driver artifact showed why the small solves must NOT be
``np.linalg.solve``: LAPACK's pivoted elimination and the oracle's
Cramer expansion agree only to ~1e-13, so an emitted statistic landing
within ~1e-13 of a rounding boundary flips a digit (r12 verdict #1,
the one red row).  The explicit helpers evaluate the SAME cofactor
expressions in the SAME left-to-right IEEE-754 order as the SQL, so
the only residual drift is in the moments themselves, which the
fitters sum in a sorted row order.

For n = 4 both the Python evaluation and the SQL text are generated
from ONE Leibniz term enumeration (:func:`det_terms`), so the two sides
cannot diverge in term order.
"""

from __future__ import annotations

import math
from itertools import permutations
from numbers import Integral

import numpy as np


def _literal_row(spark, cols: list[tuple[str, object]]):
    """1-row DataFrame of driver-computed (name, value) columns: an int
    is a BIGINT, a float or None a DOUBLE. One ``selectExpr`` parsed on
    the JVM instead of a Py4J round trip per ``F.lit`` column; a double
    travels as its shortest round-trip repr, so it parses back to the
    same bits (nan and inf included)."""
    exprs = []
    for name, v in cols:
        if isinstance(v, Integral):
            exprs.append(f"CAST({int(v)} AS BIGINT) AS `{name}`")
        elif v is None:
            exprs.append(f"CAST(NULL AS DOUBLE) AS `{name}`")
        else:
            exprs.append(f"CAST('{float(v)!r}' AS DOUBLE) AS `{name}`")
    return spark.range(1).selectExpr(*exprs)


def _exp(v: float) -> float:
    """``math.exp`` that overflows to inf like Spark's ``F.exp``, so a
    divergent fit propagates inf -> NaN moments -> NULL emission
    instead of raising on the driver."""
    try:
        return math.exp(v)
    except OverflowError:
        return math.inf


def _round(x, digits: int | None):
    """Driver-side emission rounding: ``round(x, digits) + 0.0`` (the
    ``+ 0.0`` folds -0.0), or ``x`` unrounded when ``digits`` is None
    (the boundary-margin audits)."""
    return float(x) if digits is None else round(float(x), digits) + 0.0


def solve2(u1: float, u2: float,
           i11: float, i12: float, i22: float):
    """2x2 symmetric Cramer solve: returns (det, d1, d2) with d = A^-1 u,
    evaluating exactly the oracle's expressions
    ``i11*i22 - i12*i12``, ``(i22*u1 - i12*u2)/det``,
    ``(i11*u2 - i12*u1)/det`` (queries.py ``_cox_multi_sql``)."""
    det = i11 * i22 - i12 * i12
    if not det > 0:
        return det, None, None
    d1 = (i22 * u1 - i12 * u2) / det
    d2 = (i11 * u2 - i12 * u1) / det
    return det, d1, d2


def det3(i00: float, i01: float, i02: float,
         i11: float, i12: float, i22: float) -> float:
    """Determinant of the symmetric 3x3 matrix by the oracle's
    first-row cofactor expansion."""
    return (i00 * (i11 * i22 - i12 * i12)
            - i01 * (i01 * i22 - i12 * i02)
            + i02 * (i01 * i12 - i11 * i02))


def solve3(u0: float, u1: float, u2: float,
           i00: float, i01: float, i02: float,
           i11: float, i12: float, i22: float):
    """3x3 symmetric Cramer solve: returns (det, d0, d1, d2),
    evaluating exactly the oracle's cofactor expansion
    (queries.py ``_logit_multi_irls_sql`` / ``_poisson_multi_irls_sql``
    / ``_cox_multi3_sql``, indices shifted as the caller labels them).
    """
    det = det3(i00, i01, i02, i11, i12, i22)
    if not det > 0:
        return det, None, None, None
    d0 = (u0 * (i11 * i22 - i12 * i12)
          - i01 * (u1 * i22 - i12 * u2)
          + i02 * (u1 * i12 - i11 * u2)) / det
    d1 = (i00 * (u1 * i22 - i12 * u2)
          - u0 * (i01 * i22 - i12 * i02)
          + i02 * (i01 * u2 - u1 * i02)) / det
    d2 = (i00 * (i11 * u2 - u1 * i12)
          - i01 * (i01 * u2 - u1 * i02)
          + u0 * (i01 * i12 - i11 * i02)) / det
    return det, d0, d1, d2


def var3_diag(i00: float, i01: float, i02: float,
              i11: float, i12: float, i22: float, det: float):
    """Diagonal of the 3x3 inverse scaled by det — the oracle's
    ``(i00*i22 - i02*i02)/det`` (var of index 1) and
    ``(i00*i11 - i01*i01)/det`` (var of index 2) plus the index-0
    entry, in the same operand order."""
    v0 = (i11 * i22 - i12 * i12) / det
    v1 = (i00 * i22 - i02 * i02) / det
    v2 = (i00 * i11 - i01 * i01) / det
    return v0, v1, v2


def det_terms(n: int):
    """Leibniz enumeration of the n x n determinant in lexicographic
    permutation order: yields (sign, ((0, c0), (1, c1), ...)).  BOTH
    the Python evaluator and the SQL generator below iterate this same
    sequence, so term order (and therefore every IEEE rounding step of
    the sum) is identical on the two sides."""
    out = []
    for perm in permutations(range(n)):
        sign = 1
        p = list(perm)
        # count inversions for the parity
        inv = sum(1 for a in range(n) for b in range(a + 1, n)
                  if p[a] > p[b])
        sign = -1 if inv % 2 else 1
        out.append((sign, tuple((r, perm[r]) for r in range(n))))
    return out


def _det_py(a, n: int) -> float:
    """a[(r, c)] -> float.  Sum accumulated in det_terms order with
    left-to-right products — the exact sequence the SQL text encodes."""
    acc = 0.0
    for sign, cells in det_terms(n):
        prod = a[cells[0]]
        for rc in cells[1:]:
            prod = prod * a[rc]
        acc = acc + prod if sign > 0 else acc - prod
    return acc


def _det_sql(name, n: int) -> str:
    """SQL expression string for the same determinant; ``name(r, c)``
    maps a cell to its SQL column/identifier text."""
    parts = []
    for sign, cells in det_terms(n):
        prod = " * ".join(name(r, c) for r, c in cells)
        parts.append(("+ " if sign > 0 else "- ") + prod)
    return "(" + " ".join(parts) + ")"


def solve_n_py(u: list, info: dict, n: int):
    """General n x n Cramer solve in generated-term order: ``info`` maps
    (r, c) with r <= c (symmetric fill-in applied here); returns
    (det, [d0..dn-1]) with None deltas when det <= 0.  The matching
    SQL comes from :func:`solve_n_sql` over the SAME ``det_terms``."""
    full = {}
    for (r, c), v in info.items():
        full[(r, c)] = v
        full[(c, r)] = v

    det = _det_py(full, n)
    if not det > 0:
        return det, None
    deltas = []
    for col in range(n):
        rep = dict(full)
        for r in range(n):
            rep[(r, col)] = u[r]
        deltas.append(_det_py(rep, n) / det)
    return det, deltas


def solve_n_sql(u_name, i_name, n: int):
    """SQL texts mirroring :func:`solve_n_py`: returns
    (det_sql, [delta0_sql_numerators...]) where each delta numerator
    must be divided by the det expression by the caller.  ``u_name(r)``
    and ``i_name(r, c)`` give the SQL identifier for score entry r and
    (symmetric) information cell (r, c)."""
    def base(r, c):
        return i_name(min(r, c), max(r, c))

    det = _det_sql(base, n)
    nums = []
    for col in range(n):
        def rep(r, c, _col=col):
            return u_name(r) if c == _col else base(r, c)
        nums.append(_det_sql(rep, n))
    return det, nums


def inv_diag_py(info: dict, n: int):
    """Diagonal of the inverse of the symmetric n x n matrix, each
    entry as principal-minor-determinant / determinant with BOTH dets
    evaluated in det_terms order — the Python twin of
    :func:`inv_diag_sql`.  ``info`` maps (r, c), r <= c.  Returns
    (det, [v0..vn-1]) with None list when det <= 0."""
    full = {}
    for (r, c), v in info.items():
        full[(r, c)] = v
        full[(c, r)] = v
    det = _det_py(full, n)
    if not det > 0:
        return det, None
    out = []
    for i in range(n):
        idx = [j for j in range(n) if j != i]
        minor = {(r, c): full[(idx[r], idx[c])]
                 for r in range(n - 1) for c in range(n - 1)}
        out.append(_det_py(minor, n - 1) / det)
    return det, out


def inv_diag_sql(i_name, n: int):
    """SQL texts for :func:`inv_diag_py`: (det_sql, [minor_sql...]) —
    divide each minor by the det expression to get the variance."""
    def base(r, c):
        return i_name(min(r, c), max(r, c))

    det = _det_sql(base, n)
    minors = []
    for i in range(n):
        idx = [j for j in range(n) if j != i]

        def m_name(r, c, _idx=idx):
            return base(_idx[r], _idx[c])

        minors.append(_det_sql(m_name, n - 1))
    return det, minors


def _dense(info: dict, m: int):
    a = np.zeros((m, m))
    for (r, c), v in info.items():
        a[r, c] = a[c, r] = v
    return a


def newton_step(beta: list, u: list, info: dict):
    """``beta + info^-1 u`` by the module's step rule (solver chosen by
    m = len(beta)), or None when ``info`` is not positive definite."""
    m = len(beta)
    if m == 1:
        i = info[(0, 0)]
        return [beta[0] + u[0] / i] if i > 0 else None
    if m == 2:
        _, *deltas = solve2(u[0], u[1],
                            info[(0, 0)], info[(0, 1)], info[(1, 1)])
    elif m == 3:
        _, *deltas = solve3(
            u[0], u[1], u[2],
            info[(0, 0)], info[(0, 1)], info[(0, 2)],
            info[(1, 1)], info[(1, 2)], info[(2, 2)])
    elif m == 4:
        _, deltas = solve_n_py(u, info, m)
    else:
        a = _dense(info, m)
        deltas = (np.linalg.solve(a, np.asarray(u)).tolist()
                  if np.linalg.det(a) > 0 else None)
    if deltas is None or deltas[0] is None:
        return None
    return [b + d for b, d in zip(beta, deltas)]


def inverse_diag(info: dict):
    """Diagonal of ``info^-1`` by the module's step rule, or None when
    ``info`` is not positive definite."""
    m = max(c for _, c in info) + 1
    if m == 1:
        i = info[(0, 0)]
        return [1 / i] if i > 0 else None
    if m == 2:
        det = info[(0, 0)] * info[(1, 1)] - info[(0, 1)] * info[(0, 1)]
        return [info[(1, 1)] / det, info[(0, 0)] / det] if det > 0 else None
    if m == 3:
        cells = (info[(0, 0)], info[(0, 1)], info[(0, 2)],
                 info[(1, 1)], info[(1, 2)], info[(2, 2)])
        det = det3(*cells)
        return list(var3_diag(*cells, det)) if det > 0 else None
    if m == 4:
        return inv_diag_py(info, m)[1]
    a = _dense(info, m)
    return np.diag(np.linalg.inv(a)).tolist() if np.linalg.det(a) > 0 else None


def fit_newton(moments, beta: list, iterations: int):
    """``iterations`` Newton steps from ``beta``: each calls
    ``moments(beta)`` -> (u, info), or None when there is nothing to
    fit (an empty grid, a fitter-specific invalid state), then
    :func:`newton_step`. Returns (beta, u, var) with the score and the
    inverse-information diagonal at the final beta, or None when any
    moments call is None or any information is not positive definite."""
    for _ in range(iterations):
        mom = moments(beta)
        beta = None if mom is None else newton_step(beta, *mom)
        if beta is None:
            return None
    mom = moments(beta)
    var = None if mom is None else inverse_diag(mom[1])
    return None if var is None else (beta, mom[0], var)


def glm_moments(rows: list, d: int, weights):
    """``moments(beta)`` of a GLM with intercept + d covariates over
    collected grid rows (x1..xd, counts...): per row eta = b0 + b . x,
    ``weights(eta, row[d:]) -> (w, r)``, U += x r, I += x x' w with
    x = (1, x1..xd). None on an empty grid."""
    m = d + 1

    def moments(beta):
        if not rows:
            return None
        u = [0.0] * m
        info = {(a, b): 0.0 for a in range(m) for b in range(a, m)}
        for row in rows:
            eta = float(beta[0])
            for i in range(d):
                eta = eta + float(beta[i + 1]) * row[i]
            w, r = weights(eta, row[d:])
            xall = (1.0, *row[:d])
            for a in range(m):
                u[a] += xall[a] * r
            for a in range(m):
                for b in range(a, m):
                    info[(a, b)] += xall[a] * xall[b] * w
        return u, info

    return moments


def score_norm(u: list) -> float:
    """||U||, squares summed left to right as the oracles write it."""
    acc = 0.0
    for v in u:
        acc = acc + v * v
    return math.sqrt(acc)
