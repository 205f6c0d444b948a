"""Single-node numpy oracles for the spatial statistics.

Independent re-implementations of the published formulas (Cliff & Ord
1981; Anselin 1995; Getis & Ord 1992; Sokal 1998) used to verify the
Spark engine on small fixtures.  These mirror the *semantics* of
pysal/esda (which is not installed in this image) — formula sources are
cited per function against the reference files for auditability.
"""

from __future__ import annotations

import math

import numpy as np


def row_standardize(edges: np.ndarray, weights: np.ndarray) -> np.ndarray:
    """edges: (m,2) int array of (focal, neighbor); returns new weights."""
    w = weights.astype(float).copy()
    sums: dict[int, float] = {}
    for (f, _), wi in zip(edges, w):
        sums[f] = sums.get(f, 0.0) + wi
    return np.array([wi / sums[f] for (f, _), wi in zip(edges, w)])


def transform(edges: np.ndarray, weights: np.ndarray, style: str) -> np.ndarray:
    """libpysal-style weight transforms: R (row sums 1), B (binary),
    O (as given), D (all weights sum to 1), V (variance stabilizing:
    rows scaled to unit L2 norm, then to an average row sum of 1)."""
    w = np.asarray(weights, dtype=float)
    f = np.asarray(edges)[:, 0]
    style = style.upper()
    if style == "O":
        return w.copy()
    if style == "B":
        return np.ones_like(w)
    if style == "R":
        return row_standardize(edges, w)
    if style == "D":
        return w / w.sum()
    if style == "V":
        wq = w / np.sqrt(np.bincount(f, weights=w * w))[f]
        return wq * len(np.unique(f)) / wq.sum()
    raise ValueError(style)


def lag(n: int, edges: np.ndarray, weights: np.ndarray, z: np.ndarray) -> np.ndarray:
    out = np.zeros(n)
    for (f, nb), wi in zip(edges, weights):
        out[f] += wi * z[nb]
    return out


def s_values(n: int, edges: np.ndarray, weights: np.ndarray):
    W = np.zeros((n, n))
    for (f, nb), wi in zip(edges, weights):
        W[f, nb] = wi
    s0 = W.sum()
    s1 = ((W + W.T) ** 2).sum() / 2.0
    s2 = ((W.sum(axis=1) + W.sum(axis=0)) ** 2).sum()
    return s0, s1, s2


def moran(y, edges, weights):
    """Moran's I + moments (reference moran.py:230-271)."""
    y = np.asarray(y, dtype=float)
    n = len(y)
    z = y - y.mean()
    z2ss = (z * z).sum()
    s0, s1, s2 = s_values(n, edges, weights)
    zl = lag(n, edges, weights, z)
    I = n / s0 * (z * zl).sum() / z2ss  # noqa: E741
    EI = -1.0 / (n - 1)
    n2 = n * n
    s02 = s0 * s0
    VI_norm = (n2 * s1 - n * s2 + 3 * s02) / ((n - 1) * (n + 1) * s02) - EI**2
    k = ((z**4).sum() / n) / ((z2ss / n) ** 2)
    A = n * ((n2 - 3 * n + 3) * s1 - n * s2 + 3 * s02)
    B = k * ((n2 - n) * s1 - 2 * n * s2 + 6 * s02)
    VI_rand = (A - B) / ((n - 1) * (n - 2) * (n - 3) * s02) - EI**2
    return {
        "I": I, "EI": EI, "VI_norm": VI_norm, "VI_rand": VI_rand,
        "s0": s0, "s1": s1, "s2": s2, "z2ss": z2ss,
    }


def geary(y, edges, weights):
    """Geary's C + moments (reference geary.py:162-188)."""
    y = np.asarray(y, dtype=float)
    n = len(y)
    yd = y - y.mean()
    yss = (yd * yd).sum()
    s0, s1, s2 = s_values(n, edges, weights)
    num = sum(
        wi * (y[f] - y[nb]) ** 2 for (f, nb), wi in zip(edges, weights)
    )
    C = (n - 1) * num / (yss * s0 * 2.0)
    n2 = n * n
    s02 = s0 * s0
    k = ((yd**4).sum() / n) / ((yss / n) ** 2)
    A = (n - 1) * s1 * (n2 - 3 * n + 3 - (n - 1) * k)
    B = 0.25 * ((n - 1) * s2 * (n2 + 3 * n - 6 - (n2 - n + 2) * k))
    Cc = s02 * (n2 - 3 - (n - 1) ** 2 * k)
    VC_rand = (A - B + Cc) / (n * (n - 2) * (n - 3) * s02)
    VC_norm = (1.0 / (2 * (n + 1) * s02)) * ((2 * s1 + s2) * (n - 1) - 4 * s02)
    return {"C": C, "VC_norm": VC_norm, "VC_rand": VC_rand}


def getis_g(y, edges):
    """Global G with binary weights (reference getisord.py:114-183)."""
    y = np.asarray(y, dtype=float)
    n = len(y)
    weights = np.ones(len(edges))
    s0, s1, s2 = s_values(n, edges, weights)
    den = y.sum() ** 2 - (y * y).sum()
    yl = lag(n, edges, weights, y)
    G = (y * yl).sum() / den
    n2 = n * n
    s02 = s0 * s0
    EG = s0 / (n * (n - 1))
    b0 = (n2 - 3 * n + 3) * s1 - n * s2 + 3 * s02
    b1 = -((n2 - n) * s1 - 2 * n * s2 + 6 * s02)
    b2 = -(2 * n * s1 - (n + 3) * s2 + 6 * s02)
    b3 = 4 * (n - 1) * s1 - 2 * (n + 1) * s2 + 8 * s02
    b4 = s1 - s2 + s02
    sy, sy2 = y.sum(), (y**2).sum()
    sy3, sy4 = (y**3).sum(), (y**4).sum()
    EG2 = b0 * sy2**2 + b1 * sy4 + b2 * sy**2 * sy2 + b3 * sy * sy3 + b4 * sy**4
    EG2 /= den**2 * n * (n - 1) * (n - 2) * (n - 3)
    VG = EG2 - EG**2
    return {"G": G, "EG": EG, "VG": VG, "z_norm": (G - EG) / math.sqrt(VG)}


def gamma_stat(y, edges, weights, op="c"):
    """Gamma index (reference gamma.py:202-234)."""
    y = np.asarray(y, dtype=float)
    tot = 0.0
    for (f, nb), wi in zip(edges, weights):
        if op == "c":
            a = y[f] * y[nb]
        elif op == "s":
            a = (y[f] - y[nb]) ** 2
        elif op == "a":
            a = abs(y[f] - y[nb])
        tot += wi * a
    return tot


def join_counts(y, edges):
    """BB/WW/BW with binary weights (reference join_counts.py:234-251)."""
    y = np.asarray(y, dtype=float)
    bb = ww = bw = wb = 0.0
    for f, nb in edges:
        same = y[f] == y[nb]
        bb += y[f] * same
        ww += (1 - y[f]) * same
        bw += y[f] * (1 - same)
        wb += (1 - y[f]) * (1 - same)
    return {"bb": bb / 2, "ww": ww / 2, "bw": (bw + wb) / 2}


def moran_local(y, edges, weights):
    """Local Moran observed values + quadrants (reference
    moran.py:1352-1422): z standardized by population std, lag on the
    given (already transformed) weights."""
    y = np.asarray(y, dtype=float)
    n = len(y)
    z = (y - y.mean()) / y.std()
    den = (z * z).sum()
    zl = lag(n, edges, weights, z)
    Is = (n - 1) * z * zl / den
    zp = z > 0
    lp = zl > 0
    q = (
        1 * (zp & lp) + 2 * (~zp & lp) + 3 * (~zp & ~lp) + 4 * (zp & ~lp)
    )
    return {"Is": Is, "q": q, "zl": zl, "z": z}


def crand_counts(z, edges, weights, observed, P, stat):
    """Directed conditional-randomization counts (reference
    crand.py:246-351, significance.py): site i's neighbor weights,
    sorted by neighbor id, meet the draw ``z_no_i[P] = z[P + (P >= i)]``
    of the shared permutation table ``P``; a self-loop weight stays
    apart; an island gets one neighbor of weight 0.  ``stat(i, lag,
    self_w)`` maps the (k,) permuted lags to simulated statistics.
    Returns (larger, ties): p_sim = (larger + 1) / (k + 1), and ties
    counts draws within 1e-9 relative of ``observed`` — exact ties in
    exact arithmetic, which rounding may count on either side."""
    z = np.asarray(z, dtype=float)
    n, k = len(z), P.shape[0]
    larger = np.zeros(n, dtype=int)
    ties = np.zeros(n, dtype=int)
    for i in range(n):
        mine = edges[:, 0] == i
        nbr, w = edges[mine, 1], np.asarray(weights, dtype=float)[mine]
        self_w = w[nbr == i].max() if (nbr == i).any() else 0.0
        w = w[nbr != i][np.argsort(nbr[nbr != i], kind="stable")]
        if len(w) == 0:
            w = np.zeros(1)
        draw = P[:, :len(w)]
        sims = stat(i, z[draw + (draw >= i)] @ w, self_w)
        ge = int((sims >= observed[i]).sum())
        larger[i] = min(ge, k - ge)
        ties[i] = int(np.isclose(sims, observed[i], rtol=1e-9, atol=0).sum())
    return larger, ties


def geary_local(y, edges, weights):
    """Local Geary (reference geary_local.py:182-211)."""
    y = np.asarray(y, dtype=float)
    n = len(y)
    z = (y - y.mean()) / y.std()
    out = np.zeros(n)
    for (f, nb), wi in zip(edges, weights):
        out[f] += wi * (z[f] - z[nb]) ** 2
    return out


def g_local(y, edges, weights, star=False):
    """Gi / Gi* observed + analytic moments (reference getisord.py:445-481)."""
    y = np.asarray(y, dtype=float)
    n = len(y)
    W = np.zeros((n, n))
    np.add.at(W, (edges[:, 0], edges[:, 1]), weights)
    remove_self = not star
    N = n - remove_self
    Gs = (W @ y) / (y.sum() - y * remove_self)
    emp_mean = (y.sum() - y * remove_self) / N
    mean_sq = ((y**2).sum() - (y**2) * remove_self) / N
    emp_var = mean_sq - emp_mean**2
    card = W.sum(axis=1)
    EGs = card / N
    VGs = card * (N - card) / (N - 1) / N**2 * (emp_var / emp_mean**2)
    Zs = (Gs - EGs) / np.sqrt(VGs)
    return {"Gs": Gs, "EGs": EGs, "VGs": VGs, "Zs": Zs}


def losh(y, edges, weights, a=2.0):
    """LOSH (reference losh.py:125-152)."""
    y = np.asarray(y, dtype=float)
    n = len(y)
    rowsum = np.zeros(n)
    for (f, _), wi in zip(edges, weights):
        rowsum[f] += wi
    ylag = lag(n, edges, weights, y) / rowsum
    yresid = np.abs(y - ylag) ** a
    denom = yresid.mean() * rowsum
    Hi = lag(n, edges, weights, yresid) / denom
    sq_rowsum = np.zeros(n)
    for (f, _), wi in zip(edges, weights):
        sq_rowsum[f] += wi * wi
    VarHi = (
        (n - 1) ** -1
        * denom**-2
        * ((yresid**2).sum() / n - yresid.mean() ** 2)
        * (n * sq_rowsum - rowsum**2)
    )
    return {"Hi": Hi, "ylag": ylag, "VarHi": VarHi}


def brute_knn_edges(xy: np.ndarray, k: int) -> np.ndarray:
    """(m,2) exact kNN pairs, ties broken by neighbor id."""
    n = len(xy)
    out = []
    for i in range(n):
        d2 = ((xy - xy[i]) ** 2).sum(axis=1)
        order = sorted((d2[j], j) for j in range(n) if j != i)
        for _, j in order[:k]:
            out.append((i, j))
    return np.array(out, dtype=np.int64)


def brute_dbscan(xy: np.ndarray, eps: float, min_samples: int) -> dict:
    """{id: cluster} of exact DBSCAN by brute force: neighbors at
    d <= eps; a point is core with >= min_samples - 1 neighbors;
    components of core points are labeled by their minimum id; a border
    point takes the minimum label among its core neighbors; -1 is
    noise."""
    n = len(xy)
    d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(axis=2)
    nbr = (d2 <= eps * eps) & ~np.eye(n, dtype=bool)
    core = nbr.sum(axis=1) >= min_samples - 1
    label = np.where(core, np.arange(n), -1)
    changed = True
    while changed:  # min-label propagation over core-core edges
        lab = np.where(nbr & core[None, :] & core[:, None],
                       label[None, :], n)
        new = np.where(core, np.minimum(label, lab.min(axis=1)), -1)
        changed = bool((new != label).any())
        label = new
    for i in np.flatnonzero(~core):
        c = np.flatnonzero(nbr[i] & core)
        if len(c):
            label[i] = label[c].min()
    return {i: int(label[i]) for i in range(n)}


def brute_distance_band(xy: np.ndarray, threshold: float) -> np.ndarray:
    n = len(xy)
    out = []
    for i in range(n):
        d2 = ((xy - xy[i]) ** 2).sum(axis=1)
        for j in range(n):
            if j != i and d2[j] <= threshold**2:
                out.append((i, j))
    return np.array(out, dtype=np.int64)
