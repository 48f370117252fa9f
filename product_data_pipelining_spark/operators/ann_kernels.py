"""Numpy kernels of the ANN family: grid cosine, nearest cells, top-k rows.

Every pandas UDF of the embedding queries (``similarity``'s sim01, sim02x,
the IVF cell assignment behind sim04, sim05 and sim07-sim11, the per-cell
kernels of sim04 and sim07-sim11, and ``dedup``'s dd13) scores on these
three functions, so the oracle-parity arithmetic exists once.

Workers get this module BY VALUE. When the driver runs from another cwd,
the repo is not on the workers' ``sys.path``, so a UDF that referenced a
repo function by import would fail there with ``ModuleNotFoundError``.
``similarity`` registers this module with
``pyspark.cloudpickle.register_pickle_by_value``: a closure that calls one
of these functions ships its code, and a worker never imports the package.
For that to hold, this module imports numpy and nothing from the package.
"""

from __future__ import annotations

import numpy as np


def _norms(X: np.ndarray) -> np.ndarray:
    """Row norms, summed in longdouble and rounded to float64. A zero row
    gets norm 1, so it stays all-zero (cosine 0 to everything) instead of
    NaN, whose int64 cast is platform-undefined."""
    n = np.sqrt(np.sum(X.astype(np.longdouble) ** 2, axis=1)).astype(np.float64)
    n[n == 0.0] = 1.0
    return n


def grid_cosine(A: np.ndarray, B: np.ndarray, scale: float) -> np.ndarray:
    """int64 ``round_half_away(cos(A[i], B[j]) * scale)`` for every pair:
    the oracles' ``ROUND(dot / (|a| * |b|), d)`` with ``scale = 10**d``.

    The oracles sum left to right in double. Longdouble matmul has no BLAS
    path (scalar loops, flat across cores), so the bulk runs float64 BLAS
    on pre-normalised rows, which lands ~1e-14 grid units from the true
    cosine. An entry within 1e-6 grid units of a rounding boundary, where
    summation order could flip the rounded value, is recomputed as
    ``dot / float64(|a| * |b|)`` in longdouble. Every other entry rounds
    the same under either formula. The grid is built with in-place passes
    (``np.where`` would materialise both branches).
    """
    a_nrm, b_nrm = _norms(A), _norms(B)
    sims = (A / a_nrm[:, None]) @ (B / b_nrm[:, None]).T
    g = np.abs(sims)
    g *= scale
    g += 0.5
    d = np.rint(g)
    np.subtract(d, g, out=d)
    np.abs(d, out=d)
    near = d < 1e-6
    if near.any():
        Al, Bl = A.astype(np.longdouble), B.astype(np.longdouble)
        for i, j in zip(*np.nonzero(near)):
            sims[i, j] = np.float64(
                np.dot(Al[i], Bl[j]) / np.longdouble(a_nrm[i] * b_nrm[j])
            )
        gv = np.abs(sims[near])
        gv *= scale
        gv += 0.5
        g[near] = gv
    np.floor(g, out=g)
    return (g * np.sign(sims)).astype(np.int64)


def nearest_cells(X: np.ndarray, C: np.ndarray, nprobe: int) -> np.ndarray:
    """(len(X), min(nprobe, len(C))) indices into ``C``, nearest first.

    Nearest means the 1e-6-grid cosine descending, then the centroid
    index ascending: one packed int64 key ``(-s, index)`` per pair. With
    ``C`` sorted by centroid id, the index order is the oracles'
    ``cent_id ASC`` tiebreak.
    """
    k = len(C)
    key = grid_cosine(X, C, 1e6)
    key *= -k
    key += np.arange(k, dtype=np.int64)
    p = min(nprobe, k)
    part = np.argpartition(key, p - 1, axis=1)[:, :p]
    order = np.take_along_axis(key, part, axis=1).argsort(axis=1, kind="stable")
    return np.take_along_axis(part, order, axis=1)


def topk_rows(
    S: np.ndarray, ids: np.ndarray, k: int, drop=()
) -> tuple[np.ndarray, np.ndarray]:
    """Each row's top ``k`` columns of ``S`` by (score desc, id asc).

    Returns flat (row, column) index arrays, rows in order and each row's
    columns best first. ``ids`` (non-negative, one per column) breaks
    score ties. ``drop`` holds ``(row_keys, col_keys)`` pairs: entry
    ``(i, j)`` is dropped when ``row_keys[i] == col_keys[j]`` for any pair
    (the self row; sim11's same label). Dropped entries leave before the
    cut, so a row with fewer than ``k`` others keeps only the others.
    """
    span = int(ids.max()) + 1
    top = np.iinfo(np.int64).max
    rows, cols = [], []
    for i in range(len(S)):
        key = ids - S[i] * span
        out = np.zeros(len(ids), dtype=bool)
        for rk, ck in drop:
            out |= ck == rk[i]
        n_ok = len(ids) - np.count_nonzero(out)
        if not n_ok:
            continue
        key[out] = top
        kq = min(k, n_ok)
        part = np.argpartition(key, kq - 1)[:kq]
        rows.append(np.full(kq, i, dtype=np.int64))
        cols.append(part[np.argsort(key[part], kind="stable")])
    if not rows:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    return np.concatenate(rows), np.concatenate(cols)
