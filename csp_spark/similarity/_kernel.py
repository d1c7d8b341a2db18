"""BLAS-select then exact-rescore: the one cosine similarity kernel.

``knn_join``, ``hard_negatives``, ``cosine_pairs_above`` (ann.py) and
``csp_spark.dedup.semdedup`` share it. A numpy/C-BLAS matmul SELECTS a
superset of the pairs that can reach the answer (:func:`select`); only
those pairs are RE-SCORED in the JVM with the sequential
zip_with/aggregate sums (:func:`rescore`), so every returned value is
the double an engine replaying a sequential sum computes (the DuckDB
oracles). Scoring every pair with the interpreted JVM expressions is
10-100x slower than the matmul: higher-order lambdas never enter
whole-stage codegen, and their megamorphic eval() call sites degrade
further in long sessions. The Spark wiring (``mapInPandas`` over a
broadcast small side, or ``groupBy(cell).applyInPandas``) and the
re-score join stay with each caller.

**Margin.** Let ``c`` be a pair's exact JVM cosine and ``b`` its BLAS
cosine; the two sums differ by a few ulp (~1e-15). Selection compares
``S = round(b, 6)``, so ``|S - b| <= 5e-7`` plus an ulp.

- Against ``round(c, 6)`` (what knn_join, hard_negatives and
  cosine_pairs_above rank and return) ``S`` differs by at most one
  1e-6 grid step. The worst admissible gap is 2e-6 (a k-th tie rounded
  one step down against a k-th BLAS score rounded one step up), and
  ``x - MARGIN`` carries about an ulp itself, so the margin must sit
  strictly above 2e-6. Rounded scores live on the 1e-6 grid, so any
  margin below 3e-6 admits no pair from the next step: 2.5e-6 keeps
  every pair that can reach the answer, ties at the k-th score
  included, at no extra cost.
- Against the raw ``c`` (semdedup's unrounded ``c >= eps``),
  ``|S - c| <= 5e-7`` plus a few ulp, below the margin: ``S >= eps +
  MARGIN`` proves ``c >= eps`` and ``S < eps - MARGIN`` proves
  ``c < eps``.

**Input contract** (the JVM re-score is the reference in every case):

- NaN element: the JVM cosine is NaN, which Spark orders above every
  double — it ranks first in a DESC window, passes ``>= t`` and fails
  ``< t``.
- NULL vector or NULL element: the JVM cosine is NULL — it ranks last
  and fails every comparison. Arrow hands NULL elements to pandas as
  NaN and :func:`vec_matrix` turns a NULL vector into a NaN row.
- zero-norm vector: the JVM divides by exactly 0, giving NULL; BLAS
  gives 0/0 = NaN.
- In all three cases the BLAS score is non-finite, and a non-finite
  score is ALWAYS a candidate: Python never decides these pairs, the
  re-score does. A degenerate vector therefore makes every pair it is
  in a candidate; real corpora carry none.
- ragged lengths: the vectors of one side must share one dimension,
  and the other side's; otherwise :func:`vec_matrix` raises ValueError
  (a JVM zip_with would pad with NULL and silently score NULL).
- duplicate ids: rows are scored as rows. Only a pair whose two ids are
  EQUAL is excluded, and only when the caller passes ids (knn_join's
  exclude_self, hard_negatives' own-anchor rule, semdedup's
  ``id_a != id_b``); otherwise same-id rows pair like any others.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Selection margin on rounded BLAS scores; the proof is in the module
#: docstring.
MARGIN = 2.5e-6


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def rescore(va: Column, vb: Column, na: Column, nb: Column) -> Column:
    """The exact JVM score of a selected pair, over norms computed once
    per row below the pair join: ``round(dot(va, vb) / (na * nb), 6)``.
    The dot's index-order sum and the norm product are symmetric bit for
    bit, so the pair's orientation cannot change a value."""
    return F.round(dot(va, vb) / (na * nb), 6)


def vec_matrix(series, dim: int | None, label: str, col: str,
               null_rows: bool = False) -> np.ndarray:
    """Dense [n, dim] float64 matrix from an Arrow-batch embedding
    column (``dim=None``: the first non-NULL vector's length). A ragged
    or non-numeric column raises here, LOUDLY, rather than as an opaque
    executor shape error three stages later. A NULL vector raises too,
    unless ``null_rows``: then it becomes a NaN row (the kernel's
    contract — it scores NaN, so the re-score decides it)."""
    vals = list(series)
    if dim is None:
        dim = next((len(v) for v in vals if v is not None), 0)
    if null_rows and any(v is None for v in vals):
        vals = [np.full(dim, np.nan) if v is None else v for v in vals]
    try:
        # fast path: clean fixed-dim input converts in one C pass
        V = np.array(vals, dtype=np.float64)
    except (TypeError, ValueError):
        raise ValueError(
            f"{label}: column {col!r} contains a NULL, non-numeric, "
            "or ragged-length vector — drop or impute those rows "
            "before indexing"
        ) from None
    if len(vals) == 0:
        V = V.reshape(0, dim)
    if V.ndim != 2 or V.shape[1] != dim:
        raise ValueError(
            f"{label}: column {col!r} must be non-NULL fixed-dimension "
            f"{dim} vectors; got an array of shape {V.shape} (NULL or "
            "ragged-length embeddings in this batch)"
        )
    return V


def score_slab(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """6dp-rounded BLAS cosine of every row of A against every row of
    B. Degenerate rows give NaN or inf, silently."""
    with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
        na = np.sqrt((A * A).sum(axis=1))
        nb = np.sqrt((B * B).sum(axis=1))
        return np.round((A @ B.T) / np.outer(na, nb), 6)


def select(A: np.ndarray, B: np.ndarray, k: int | None = None,
           lo: float | None = None, hi: float | None = None,
           a_ids=None, b_ids=None):
    """Yield, per ~32 MB slab of A's rows, the pairs ``(A[i], B[j])``
    the exact re-score must see, as ``(i, j, s)`` index and
    rounded-BLAS-score arrays.

    A pair whose ids are equal (when ``a_ids``/``b_ids`` are given) is
    never kept. Every other pair with a non-finite score is. A finite
    pair is kept when it is within MARGIN of the bounds (``s >= lo -
    MARGIN``, ``s < hi + MARGIN``) and, with ``k``, within MARGIN of its
    row's k-th real score: the k-th largest finite score among the row's
    pairs certainly inside the bounds."""
    step = max(1, 4_000_000 // max(len(B), 1))
    for s0 in range(0, len(A), step):
        S = score_slab(A[s0:s0 + step], B)
        valid = (
            np.ones(S.shape, dtype=bool) if a_ids is None
            else a_ids[s0:s0 + step, None] != b_ids[None, :]
        )
        real = valid & np.isfinite(S)

        def inside(m):
            ok = real.copy()
            if lo is not None:
                ok &= S >= lo - m
            if hi is not None:
                ok &= S < hi + m
            return ok

        keep = inside(MARGIN)
        n = S.shape[1]
        if k is not None and 0 < k < n:
            top = np.where(inside(-MARGIN), S, -np.inf)
            kth = np.partition(top, n - k, axis=1)[:, n - k]
            keep &= S >= kth[:, None] - MARGIN
        i, j = np.nonzero(keep | (valid & ~real))
        yield i + s0, j, S[i, j]


def collect_small_side(df: DataFrame, vec_col: str, label: str,
                       hint: str) -> list:
    """Collect the small side of a broadcast pairing to the driver.

    The input is evaluated ONCE, partition by partition, and the collect
    raises as soon as its vectors pass
    ``CSP_SPARK_PAIRS_COLLECT_MAX_ELEMENTS`` doubles (read at call time;
    default 64M, about 0.5 GB), so an over-limit side fails loudly with
    at most one partition past the guard on the driver instead of an
    out-of-memory driver. Callers build every later use of the side
    from the returned rows, so all of them see the same data."""
    max_el = int(os.environ.get(
        "CSP_SPARK_PAIRS_COLLECT_MAX_ELEMENTS", str(64 * 1024 * 1024)
    ))
    rows, n_el = [], 0
    for r in df.toLocalIterator():
        v = r[vec_col]
        n_el += 1 if v is None else max(len(v), 1)
        if n_el > max_el:
            raise ValueError(
                f"{label}: the collected side passed {max_el} doubles "
                f"after {len(rows) + 1} rows, past the driver-collect "
                "guard (env CSP_SPARK_PAIRS_COLLECT_MAX_ELEMENTS). "
                + hint
            )
        rows.append(r)
    return rows
