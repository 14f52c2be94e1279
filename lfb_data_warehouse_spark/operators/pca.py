"""Distributed PCA over an embedding column.

The 100 TB shape: ONE aggregate pass computes the exact integer moment
sums (count, per-dimension sums, upper-triangle cross-product sums —
dim + dim·(dim+1)/2 scalars, map-side partial aggregation so each
executor contributes one partial row), the driver eigendecomposes the
dim×dim covariance (trivial at embedding dims), and the projection is
a map-only expression over the corpus with the components as plan
literals — no shuffle anywhere except the moment aggregate's single
1-row exchange. This is the standard fit/transform split: the model is
tiny, the data never moves.

Exactness: moments are computed in :func:`quantize`'s integer space,
so the covariance input — and the gate's ``trace_num`` invariant
n·ΣSxx − ΣSx² (the trace numerator, a pure integer) — replays
bit-for-bit on any engine. Eigenvectors are float (LAPACK), so the
gate grades them as CLAIMS (orthonormality, monotone spectrum,
projection variance == eigenvalue) rather than by bit parity — the
int8_ann_topk_claim pattern.

Scale notes: BIGINT moment sums hold to ~1e14 rows at this value
scale (|q| ≤ 1e4 → products ≤ 1e8); beyond that, widen the SUM casts
to DECIMAL — the plan shape is unchanged. Eigen-decomposition is
O(dim³) on the driver: fine to dim ~10⁴, which covers embedding
widths by orders of magnitude.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.io import local_frame
from .similarity import quantize


@dataclass
class PCAModel:
    n: int
    mean: list[float]  # per-dimension mean of the quantized vectors
    components: list[list[float]]  # k rows, each a dim-length eigenvector
    eigenvalues: list[float]  # descending, matching components
    trace_num: int  # n·ΣSxx − ΣSx² — integer-exact covariance trace · n²


def pca_fit(emb: DataFrame, id_col: str, vec_col: str, dim: int, k: int) -> PCAModel:
    """Fit PCA with one exact-integer moment pass + driver eigh.

    The moment pass is ONE vectorized Arrow pass (r14, guide §4.2):
    each task stacks its batches into an integer matrix and
    accumulates (count, column sums, XᵀX) with one rank-k update per
    batch, emitting a single partial row; the driver sums the bounded
    partials (one per task, ~17 KB each) in exact arbitrary-precision
    Python integers. This replaces the previous
    1 + dim + dim·(dim+1)/2 (= 2,145 at dim 64) JVM aggregate
    expressions — each a bounds-checked element_at pair per row, far
    outside whole-stage codegen's comfort zone — with C-speed
    arithmetic; the integer moments are associative, so the partial
    split is bit-exact against the oracle's single-pass replay
    (int64 task partials hold to ~9e10 rows/task at |q| ≤ 1e4).
    Eigenvector sign is normalized deterministically
    (largest-|component| entry made positive) so repeated fits are
    identical."""
    import numpy as np

    iu = np.triu_indices(dim)

    def _partials(batches):
        import numpy as _np
        import pandas as _pd

        n_ = 0
        s_ = _np.zeros(dim, dtype=_np.int64)
        pp = _np.zeros((dim, dim), dtype=_np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            x = _np.vstack(pdf["q"].to_numpy()).astype(_np.int64, copy=False)
            if x.shape[1] != dim:
                raise ValueError(f"pca_fit: vector dim {x.shape[1]} != {dim}")
            n_ += x.shape[0]
            s_ += x.sum(axis=0, dtype=_np.int64)
            pp += x.T @ x
        yield _pd.DataFrame({"n": [n_], "s": [s_.tolist()], "p": [pp[iu].tolist()]})

    part = (
        quantize(emb, id_col, vec_col)
        .select("q")  # only the vector crosses the Python boundary
        .mapInPandas(_partials, "n long, s array<long>, p array<long>")
        .collect()
    )
    n = sum(int(r["n"]) for r in part)
    if n == 0:
        raise ValueError("pca_fit: empty input")
    s = [sum(int(r["s"][i]) for r in part) for i in range(dim)]
    tri = [sum(int(r["p"][t]) for r in part) for t in range(len(iu[0]))]
    p = {}
    for t, (i, j) in enumerate(zip(iu[0], iu[1])):
        p[(int(i), int(j))] = tri[t]
    trace_num = n * sum(p[(i, i)] for i in range(dim)) - sum(v * v for v in s)
    mean = [v / n for v in s]
    cov = np.empty((dim, dim), dtype=np.float64)
    for i in range(dim):
        for j in range(i, dim):
            c = p[(i, j)] / n - mean[i] * mean[j]
            cov[i, j] = c
            cov[j, i] = c
    w, v = np.linalg.eigh(cov)  # ascending
    order = np.argsort(w)[::-1][:k]
    comps, eig = [], []
    for idx in order:
        vec = v[:, idx]
        pivot = int(np.argmax(np.abs(vec)))
        if vec[pivot] < 0:
            vec = -vec
        comps.append([float(x) for x in vec])
        eig.append(float(w[idx]))
    return PCAModel(n=n, mean=mean, components=comps, eigenvalues=eig, trace_num=trace_num)


def pca_project(emb: DataFrame, id_col: str, vec_col: str, model: PCAModel) -> DataFrame:
    """Map-only projection: ``(id, y: array<double>)`` with
    y_j = Σ_i (q_i − μ_i)·V_j,i. Components and mean are plan literals
    (one parsed expression per output column); no shuffle, no join —
    the shape that projects 100 TB in a single scan."""
    q = quantize(emb, id_col, vec_col)
    cols = []
    for j, comp in enumerate(model.components):
        terms = " + ".join(
            f"(element_at(q, {i + 1}) - ({model.mean[i]!r}D)) * ({comp[i]!r}D)"
            for i in range(len(comp))
        )
        cols.append(f"({terms}) AS y{j}")
    out = q.selectExpr(id_col, *cols)
    return out.select(
        F.col(id_col),
        F.array(*[F.col(f"y{j}") for j in range(len(model.components))]).alias("y"),
    )


def pca_claims(emb: DataFrame, id_col: str, vec_col: str, dim: int, k: int) -> DataFrame:
    """The gate frame: one row per component with the integer-exact
    trace numerator (oracle-replayable) and three engine-verified
    claims — eigenvector orthonormality, descending spectrum, and
    Var(projection_j) == λ_j (the distributed check that ties the
    map-only projection back to the fit: vᵀCv = λ)."""
    import math

    import numpy as np

    model = pca_fit(emb, id_col, vec_col, dim, k)
    v = np.array(model.components)
    gram = v @ v.T
    orthonormal_ok = bool(np.max(np.abs(gram - np.eye(len(v)))) < 1e-9)
    monotone_ok = all(
        a >= b - 1e-12 for a, b in zip(model.eigenvalues, model.eigenvalues[1:])
    )
    proj = pca_project(emb, id_col, vec_col, model)
    stats = proj.selectExpr(
        "COUNT(1) AS n",
        *[f"SUM(element_at(y, {j + 1})) AS sy{j}" for j in range(k)],
        *[
            f"SUM(element_at(y, {j + 1}) * element_at(y, {j + 1})) AS syy{j}"
            for j in range(k)
        ],
    ).first()
    n = int(stats["n"])
    rows = []
    for j in range(k):
        var = stats[f"syy{j}"] / n - (stats[f"sy{j}"] / n) ** 2
        lam = model.eigenvalues[j]
        ok = math.isclose(var, lam, rel_tol=1e-6, abs_tol=1e-6)
        rows.append(
            (j, str(model.trace_num), orthonormal_ok, monotone_ok, bool(ok))
        )
    return local_frame(
        emb.sparkSession,
        rows,
        "component long, trace_num string, orthonormal_ok boolean, "
        "monotone_ok boolean, var_matches_eigenvalue boolean",
    )
