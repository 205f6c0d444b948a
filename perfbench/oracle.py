"""Output checks, run outside the timed region.

The spatial statistics are checked against ``tests/oracle_numpy.py``.
Its ``s_values`` builds a dense n x n matrix, which does not fit at
benchmark sizes, so :func:`sparse_s_values` stands in for it while the
oracle's own formulas run; every other oracle function is used as is.
"""

from __future__ import annotations

import contextlib
import hashlib

import numpy as np

from tests import oracle_numpy


class CheckFailed(Exception):
    pass


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def close(got, want, what: str, rtol: float = 1e-7, atol: float = 1e-9) -> None:
    got, want = np.asarray(got, dtype=float), np.asarray(want, dtype=float)
    require(got.shape == want.shape, f"{what}: shape {got.shape} != {want.shape}")
    bad = ~np.isclose(got, want, rtol=rtol, atol=atol)
    require(not bad.any(), f"{what}: {int(bad.sum())} values differ from the oracle")


def sparse_s_values(n: int, edges: np.ndarray, weights: np.ndarray):
    """s0, s1, s2 of ``oracle_numpy.s_values`` without the dense W."""
    w = np.asarray(weights, dtype=float)
    f, nb = edges[:, 0].astype(np.int64), edges[:, 1].astype(np.int64)
    # s1 = sum over cells of (w_ij + w_ji)^2 / 2: merge W and W^T cells
    keys = np.concatenate([f * n + nb, nb * n + f])
    uniq, inv = np.unique(keys, return_inverse=True)
    cell = np.bincount(inv, weights=np.concatenate([w, w]), minlength=len(uniq))
    s1 = (cell * cell).sum() / 2.0
    rows = np.bincount(f, weights=w, minlength=n)
    cols = np.bincount(nb, weights=w, minlength=n)
    return w.sum(), s1, ((rows + cols) ** 2).sum()


@contextlib.contextmanager
def _sparse_oracle():
    dense = oracle_numpy.s_values
    oracle_numpy.s_values = sparse_s_values
    try:
        yield oracle_numpy
    finally:
        oracle_numpy.s_values = dense


def spatial_oracle(ids: np.ndarray, y: np.ndarray, edges_pdf) -> dict:
    """Global Moran's I and local Is of ``tests/oracle_numpy.py`` on the
    collected kNN edges (``ids`` sorted, ``y`` aligned with them)."""
    pos = np.searchsorted(ids, edges_pdf["focal"].to_numpy())
    nb = np.searchsorted(ids, edges_pdf["neighbor"].to_numpy())
    e = np.stack([pos, nb], axis=1)
    with _sparse_oracle() as o:
        w_r = o.row_standardize(e, np.ones(len(e)))
        return {"I": o.moran(y, e, w_r)["I"], "Is": o.moran_local(y, e, w_r)["Is"]}


def knn_sample(ids: np.ndarray, xy: np.ndarray, focal_pos: np.ndarray,
               k: int) -> dict[int, list[int]]:
    """Exact kNN of the sampled focals over all points, by the rule of
    ``oracle_numpy.brute_knn_edges``: squared distance, ties broken by
    neighbor id."""
    out = {}
    for i in focal_pos:
        d2 = ((xy - xy[i]) ** 2).sum(axis=1)
        d2[i] = np.inf
        order = np.lexsort((ids, d2))[:k]
        out[int(ids[i])] = [int(v) for v in ids[order]]
    return out


def digest(*arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()[:16]
