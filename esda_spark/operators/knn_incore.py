"""Exact kNN: one numpy kernel, two feeders.

The kernel is :func:`build_target_index` (a grid index over a target
set) and :func:`knn_batch` (every focal's exact top-k against it):
candidate generation, the (d2 asc, neighbor asc) top-k, settlement
guards and radius doubling all run vectorized in numpy, and stragglers
brute-force against the whole indexed target set.  d2 is always
``dx*dx + dy*dy`` in IEEE doubles and ties break on the neighbor id,
so any feeder that hands a focal a target set containing its true
top-k gets the same rows.

The two feeders decide which targets a focal sees:

- broadcast (:func:`knn_edges_incore`): below the ``knn_targets`` gate
  (:mod:`esda_spark.plans.gate`) the gate's probe collects the target
  side once, its index is broadcast, and the focals stream through ONE
  ``mapInPandas`` job with zero shuffles;
- tiled (:func:`knn_edges_tiled`): above the gate a coarse grid cuts
  the plane into rectangles of whole cells holding at most
  :data:`TILE_TARGETS` targets each; one exchange ships every tile its
  focals plus the targets of its rectangle widened by ``h`` cells, and
  the kernel runs per tile.  A focal whose k-th neighbor lies inside
  the halo width is final; the rest repeat with ``h`` doubled, and a
  brute force over all targets is the last resort.

Both feeders turn kernel rows into edges with :func:`edge_frame`.

The kernel handles density skew with a two-level grid: level 0 sized
for ~k occupancy; targets in hot level-0 cells (> max(4k, 32) points)
are additionally indexed at a fine size halved until the max fine-cell
count fits the threshold.  Focals in hot cells search the fine grid
from radius 4 (their dense neighborhood guarantees quick settlement);
everyone else searches level 0 from radius 1.  A focal settles once k
candidates lie strictly inside radius*cell_size: any point outside the
searched Chebyshev ring is farther than that, so the top-k is exact.
The guard pre-filter (drop candidates at d2 >= (rad*cell)^2 before the
top-k) is exact for the same reason.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

_CY = 1 << 32
_OFF = 1 << 20


def _keys(x: np.ndarray, y: np.ndarray, s: float) -> np.ndarray:
    cx = np.floor(x / s).astype(np.int64) + _OFF
    cy = np.floor(y / s).astype(np.int64) + _OFF
    return cx * _CY + cy


def build_target_index(tid: np.ndarray, tx: np.ndarray, ty: np.ndarray,
                       k: int) -> dict:
    """Driver-side grid index over the target points (pure numpy)."""
    n = len(tid)
    area = max((tx.max() - tx.min()) * (ty.max() - ty.min()), 1e-12) \
        if n else 1e-12
    s0 = max(math.sqrt(1.0 * k * area / max(n, 1)), 1e-9)
    threshold = max(4 * k, 32)

    key0 = _keys(tx, ty, s0)
    order0 = np.argsort(key0, kind="stable")
    sk0 = key0[order0]
    uniq0_start = np.nonzero(np.r_[True, sk0[1:] != sk0[:-1]])[0]
    cnt0 = np.diff(np.r_[uniq0_start, len(sk0)])
    hot = sk0[uniq0_start[cnt0 > threshold]]

    s_f, order_f, sk_f = s0, order0, sk0
    if len(hot):
        # halve the fine size until the max cell count fits the
        # threshold (count iterations run on the hot subset only; the
        # final full binning covers every target — a hot focal's fine
        # ring can reach into sparse cells).  Coincident points put a
        # floor under what halving can achieve (the orders table packs
        # up to 50 points on one coordinate), so the stop bound is
        # max(threshold, duplicate multiplicity) — halving past that
        # only empties the ring and blows up the doubling search.
        hot_mask = np.isin(key0, hot)
        hx, hy = tx[hot_mask], ty[hot_mask]
        _, dup_c = np.unique(hx + 1j * hy, return_counts=True)
        stop = max(threshold, int(dup_c.max()))
        s_f = s0
        for _ in range(12):
            _, c = np.unique(_keys(hx, hy, s_f), return_counts=True)
            if c.max() <= stop:
                break
            s_f /= 2.0
        key_f = _keys(tx, ty, s_f)
        order_f = np.argsort(key_f, kind="stable")
        sk_f = key_f[order_f]

    return {
        "tid": tid, "tx": tx, "ty": ty, "n": n,
        "s0": s0, "sk0": sk0, "order0": order0, "hot": hot,
        "s_f": s_f, "sk_f": sk_f, "order_f": order_f,
        "threshold": threshold,
        # world-coverage bound: a ring of this radius (in cells of the
        # level being searched) covers the whole target extent
        "extent": float(
            max(tx.max() - tx.min(), ty.max() - ty.min()) if n else 0.0
        ),
    }


def _trunc_div(a: np.ndarray, g: int) -> np.ndarray:
    """Integer division truncating toward zero — Spark's ``div``
    semantics (numpy ``//`` floors, which differs for negatives)."""
    q = np.abs(a) // g
    return np.where(a >= 0, q, -q)


def _gather_ring(fx, fy, s, rad, sk, order):
    """Flat (focal_row, target_pos) candidate pairs from the
    (2*rad+1)^2 Chebyshev ring, fully vectorized."""
    m = len(fx)
    cx = np.floor(fx / s).astype(np.int64) + _OFF
    cy = np.floor(fy / s).astype(np.int64) + _OFF
    r = int(rad)
    side = 2 * r + 1
    # (m, side^2) probe keys
    dx = np.repeat(np.arange(-r, r + 1), side)
    dy = np.tile(np.arange(-r, r + 1), side)
    probe = (cx[:, None] + dx[None, :]) * _CY + (cy[:, None] + dy[None, :])
    flat = probe.ravel()
    lo = np.searchsorted(sk, flat)
    hi = np.searchsorted(sk, flat, side="right")
    cnt = hi - lo
    total = int(cnt.sum())
    if total == 0:
        return (np.empty(0, np.int64), np.empty(0, np.int64))
    # ragged expansion: for segment j emit lo[j] + (0..cnt[j]-1)
    seg = np.repeat(np.arange(len(cnt)), cnt)
    within = np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    tpos = order[lo[seg] + within]
    focal_row = seg // (side * side)
    return focal_row, tpos


def _topk_segments(frow, d2, nid, m, k):
    """Per-focal top-k by (d2 asc, id asc) over flat candidates.

    Returns (sel_frow, sel_nid, sel_d2, count_per_focal) where sel_*
    hold at most k rows per focal in rank order."""
    order = np.lexsort((nid, d2, frow))
    fo = frow[order]
    # rank within focal segment
    seg_start = np.nonzero(np.r_[True, fo[1:] != fo[:-1]])[0]
    seg_len = np.diff(np.r_[seg_start, len(fo)])
    rank = np.arange(len(fo)) - np.repeat(seg_start, seg_len)
    keepm = rank < k
    counts = np.zeros(m, dtype=np.int64)
    counts[fo[seg_start]] = np.minimum(seg_len, k)
    sel = order[keepm]
    return frow[sel], nid[sel], d2[sel], counts


def knn_batch(fid, fx, fy, idx, k, exclude_self, group_div):
    """Exact kNN of one focal batch against the broadcast index.

    Returns (focal, neighbor, d2) flat arrays, at most k rows per
    focal, globally exact under (d2 asc, neighbor asc)."""
    tid, tx, ty = idx["tid"], idx["tx"], idx["ty"]
    m = len(fid)
    out_f, out_n, out_d = [], [], []
    if idx["n"] == 0 or m == 0:
        return (np.empty(0, np.int64), np.empty(0, np.int64),
                np.empty(0, np.float64))

    # level assignment: hot level-0 cell -> fine grid from radius 4
    key0 = _keys(fx, fy, idx["s0"])
    if len(idx["hot"]):
        pos = np.minimum(np.searchsorted(idx["hot"], key0),
                         len(idx["hot"]) - 1)
        is_hot = idx["hot"][pos] == key0
    else:
        is_hot = np.zeros(m, bool)

    fgrp = _trunc_div(fid, group_div) if group_div else None

    def solve(rows, s, sk, order, rad0):
        """Doubling-ring settlement for one level group; returns the
        row indices that did NOT settle (world fallback)."""
        active = rows
        rad = rad0
        while len(active):
            if rad * s > max(idx["extent"], 1e-9) * 2.0:
                return active  # ring covers the world: brute force
            if (2 * rad + 1) ** 2 * len(active) > 50_000_000:
                # probe-budget safety: a pathological density profile
                # (rings doubling through mostly-empty cells) costs
                # more in searchsorted probes than the brute force
                return active
            frow, tpos = _gather_ring(fx[active], fy[active], s, rad,
                                      sk, order)
            if len(frow) == 0:
                rad *= 2
                continue
            dx = fx[active][frow] - tx[tpos]
            dy = fy[active][frow] - ty[tpos]
            d2 = dx * dx + dy * dy
            guard = float(rad) * s
            keep = d2 < guard * guard
            if exclude_self:
                keep &= tid[tpos] != fid[active][frow]
            if group_div:
                keep &= _trunc_div(tid[tpos], group_div) == \
                    fgrp[active][frow]
            frow, tpos, d2 = frow[keep], tpos[keep], d2[keep]
            if len(frow):
                sf, sn, sd, counts = _topk_segments(
                    frow, d2, tid[tpos], len(active), k
                )
                settled = counts >= k
                smask = settled[sf]
                out_f.append(fid[active][sf[smask]])
                out_n.append(sn[smask])
                out_d.append(sd[smask])
                active = active[~settled]
            rad *= 2
        return active

    lv0 = np.nonzero(~is_hot)[0]
    lvf = np.nonzero(is_hot)[0]
    strag = []
    if len(lv0):
        strag.append(solve(lv0, idx["s0"], idx["sk0"], idx["order0"], 1))
    if len(lvf):
        strag.append(solve(lvf, idx["s_f"], idx["sk_f"], idx["order_f"], 4))
    strag = np.concatenate(strag) if strag else np.empty(0, np.int64)

    # world brute force for the stragglers, chunked to bound memory
    chunk = max(1, int(8_000_000 // max(idx["n"], 1)))
    for c0 in range(0, len(strag), chunk):
        rows = strag[c0:c0 + chunk]
        dx = fx[rows][:, None] - tx[None, :]
        dy = fy[rows][:, None] - ty[None, :]
        d2 = dx * dx + dy * dy
        mc = len(rows)
        frow = np.repeat(np.arange(mc), idx["n"])
        tpos = np.tile(np.arange(idx["n"]), mc)
        d2 = d2.ravel()
        keep = np.ones(len(frow), bool)
        if exclude_self:
            keep &= tid[tpos] != fid[rows][frow]
        if group_div:
            keep &= _trunc_div(tid[tpos], group_div) == fgrp[rows][frow]
        frow, tpos, d2 = frow[keep], tpos[keep], d2[keep]
        if len(frow) == 0:
            continue
        sf, sn, sd, _ = _topk_segments(frow, d2, tid[tpos], mc, k)
        out_f.append(fid[rows][sf])
        out_n.append(sn)
        out_d.append(sd)

    if not out_f:
        return (np.empty(0, np.int64), np.empty(0, np.int64),
                np.empty(0, np.float64))
    return (np.concatenate(out_f), np.concatenate(out_n),
            np.concatenate(out_d))


def edge_frame(f, n, d2, binary: bool, keep_d2: bool) -> pd.DataFrame:
    """Kernel rows (focal, neighbor, d2) as edge rows (focal, neighbor,
    weight[, d2]): weight 1 when ``binary``, else 1/sqrt(d2), which is
    undefined for a coincident pair — that raises, naming the pair."""
    if binary:
        w = np.ones(len(f))
    else:
        zero = np.flatnonzero(d2 == 0.0)
        if len(zero):
            i = zero[0]
            raise ValueError(
                f"knn weight 1/sqrt(d2) is undefined: focal {f[i]} and "
                f"neighbor {n[i]} are coincident (d2 = 0); use binary=True"
            )
        w = 1.0 / np.sqrt(d2)
    res = {"focal": f, "neighbor": n, "weight": w}
    if keep_d2:
        res["d2"] = d2
    return pd.DataFrame(res)


def _edge_schema(keep_d2: bool) -> str:
    return "focal long, neighbor long, weight double" + (
        ", d2 double" if keep_d2 else "")


def _arrays(pdf: pd.DataFrame):
    return (pdf["id"].to_numpy(np.int64), pdf["x"].to_numpy(np.float64),
            pdf["y"].to_numpy(np.float64))


def knn_edges_gated(focals, targets, k: int, binary: bool = True,
                    exclude_self: bool = True, keep_d2: bool = False,
                    group_div: int | None = None):
    """Exact kNN edges of ``focals`` (id, x, y) onto ``targets``
    (id, x, y): the broadcast feeder when the targets fit the
    ``knn_targets`` gate, the tiled feeder above it."""
    from esda_spark.plans import gate

    args = (k, binary, exclude_self, keep_d2, group_div)
    pdf = gate.collect_if_fits(targets, "knn_targets")
    if pdf is not None:
        return knn_edges_incore(focals, pdf, *args)
    return knn_edges_tiled(focals, targets, *args)


def knn_edges_incore(
    focals,
    targets: pd.DataFrame,
    k: int,
    binary: bool = True,
    exclude_self: bool = True,
    keep_d2: bool = False,
    group_div: int | None = None,
):
    """The broadcast feeder.

    ``focals`` is a DataFrame with (id, x, y) that streams through a
    single ``mapInPandas`` job; ``targets`` is the target side already
    collected to the driver (the gate probe's frame), indexed and
    broadcast.  The result is eagerly materialized (localCheckpoint),
    so "build time" means "materialized edges".
    """
    spark = focals.sparkSession
    bc = spark.sparkContext.broadcast(
        build_target_index(*_arrays(targets), k))
    kk = int(k)
    excl = bool(exclude_self)
    gdiv = int(group_div) if group_div else None
    want_d2 = bool(keep_d2)
    is_binary = bool(binary)

    def run(batches):
        idx_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            f, n, d2 = knn_batch(*_arrays(pdf), idx_, kk, excl, gdiv)
            yield edge_frame(f, n, d2, is_binary, want_d2)

    out = focals.select("id", "x", "y").mapInPandas(
        run, schema=_edge_schema(want_d2))
    return out.localCheckpoint(eager=True)


# --- the tiled feeder ------------------------------------------------------

# In-core target budget of one tile: the kd split of the coarse grid
# stops once every tile's own rectangle holds at most this many targets
# (a single hot cell cannot be cut and may hold more).
TILE_TARGETS = 250_000
# A halo round past the first never ships one tile more targets than
# this; the remaining focals take the brute-force pass instead.
HALO_TARGETS = 4 * TILE_TARGETS
# Halo widths tried, in cells: 1, 2, 4.
HALO_ROUNDS = 3
# Focals per kernel call inside a tile, and estimated first-ring
# candidates per call (the kernel holds ~80 B per candidate at peak).
_CHUNK = 65_536
_CANDIDATES = 10_000_000
# Rectangle bounds of the outer tiles (the tiling covers the plane).
_BIG = 1 << 40
# (cell -> tile) routing tables
_CELLS = "cx long, cy long, tile int"


def _tile_rects(cx, cy, nt, nf, min_tiles: int, budget: int):
    """Cut the plane into rectangles of whole cells.

    ``cx``, ``cy`` are the occupied cells, ``nt`` / ``nf`` their target
    and focal counts.  Starting from the whole plane, split a
    rectangle over ``budget`` targets, else the heaviest one (targets +
    focals), at its weighted median cell along its wider occupied span,
    until there are ``min_tiles`` rectangles and none is over budget,
    or nothing left can be split.  Returns the (T, 4) inclusive bounds
    (x0, x1, y0, y1) and each occupied cell's tile."""
    import heapq

    wt = nt + nf

    def key(members):
        return (-int(nt[members].sum() > budget), -int(wt[members].sum()))

    heap = [(key(np.arange(len(cx))), 0, (-_BIG, _BIG, -_BIG, _BIG),
             np.arange(len(cx)))]
    done = []
    seq = 1
    while heap:
        over_budget = heap[0][0][0]
        if not over_budget and len(heap) + len(done) >= min_tiles:
            break
        _, _, rect, m = heapq.heappop(heap)
        cut = _split(rect, m, cx, cy, wt)
        if cut is None:
            done.append((rect, m))
            continue
        for part in cut:
            heapq.heappush(heap, (key(part[1]), seq, *part))
            seq += 1
    tiles = done + [(rect, m) for _, _, rect, m in heap]
    rects = np.array([rect for rect, _ in tiles], dtype=np.int64)
    home = np.empty(len(cx), dtype=np.int32)
    for t, (_, m) in enumerate(tiles):
        home[m] = t
    return rects, home


def _split(rect, m, cx, cy, wt):
    """Two halves of ``rect`` at the weighted median of its member
    cells along the wider occupied axis, or None for a single cell."""
    x0, x1, y0, y1 = rect
    spans = [c[m].max() - c[m].min() for c in (cx, cy)]
    axis = int(spans[1] > spans[0])
    if spans[axis] == 0:
        return None
    c = (cx, cy)[axis]
    vals, inv = np.unique(c[m], return_inverse=True)
    cum = np.cumsum(np.bincount(inv, weights=wt[m]))
    # the cut sits after the median value, but never after the last
    cut = vals[min(int(np.searchsorted(cum, cum[-1] / 2.0)), len(vals) - 2)]
    lo = c[m] <= cut
    if axis == 0:
        return ((x0, cut, y0, y1), m[lo]), ((cut + 1, x1, y0, y1), m[~lo])
    return ((x0, x1, y0, cut), m[lo]), ((x0, x1, cut + 1, y1), m[~lo])


def knn_edges_tiled(
    focals,
    targets,
    k: int,
    binary: bool = True,
    exclude_self: bool = True,
    keep_d2: bool = False,
    group_div: int | None = None,
):
    """The tiled feeder: the kernel per tile of a coarse grid.

    One aggregate over the targets gives their count and the 10-90%
    quantiles of x and y, which size the coarse cells (~max(4k, 64)
    targets per cell at the density of that central box); a second
    counts targets (and focals, when they are a different frame) per
    occupied cell, which also gives the target extent in cells.  Those
    counts are collected and cut into at least ``defaultParallelism``
    rectangles of whole cells (:func:`_tile_rects`).  In round ``h`` (1, 2, 4 cells) every tile
    with unsettled focals receives them plus every target whose cell
    lies within ``h`` cells of the tile, in one cogroup exchange, and
    runs :func:`knn_batch`.  A focal is final when it has k rows with
    max d2 < (h*s)^2 (a target that was not shipped lies more than h*s
    away) or when the widened tile covers every target cell (fewer
    than k rows are then all there is).  Focals left after the last
    round, or when a wider halo would ship one tile more than
    :data:`HALO_TARGETS` targets, go to one brute-force pass against
    all targets.  Every round's rows are materialized (localCheckpoint)
    and the result is their union.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    from esda_spark.plans.cells import cell_xy

    spark = focals.sparkSession
    same = focals is targets
    kk = int(k)
    excl = bool(exclude_self)
    gdiv = int(group_div) if group_div else None
    is_binary = bool(binary)
    cols = ["focal", "neighbor", "weight"] + (["d2"] if keep_d2 else [])

    # cells hold ~occ targets at the density of the central 80% x 80%
    # box (~64% of the targets): a far outlier must not coarsen the grid
    q = targets.agg(
        F.count("*").alias("n"),
        F.percentile_approx("x", [0.1, 0.9], 1000).alias("qx"),
        F.percentile_approx("y", [0.1, 0.9], 1000).alias("qy"),
    ).collect()[0]
    if not q.n:
        return spark.createDataFrame([], _edge_schema(keep_d2))
    occ = max(4 * kk, 64)
    qw, qh = q.qx[1] - q.qx[0], q.qy[1] - q.qy[0]
    # the second term keeps cells wide on (near-)collinear targets
    s = max(math.sqrt(occ * qw * qh / (0.64 * q.n)),
            occ * max(qw, qh) / (0.8 * q.n), 1e-9)

    def keyed(df):
        cx, cy = cell_xy(F.col("x"), F.col("y"), s)
        return df.select("id", "x", "y", cx.alias("cx"), cy.alias("cy"))

    tgt = keyed(targets)
    foc = tgt if same else keyed(focals)
    if same:
        counts = tgt.groupBy("cx", "cy").agg(F.count("*").alias("nt"))
        counts = counts.withColumn("nf", F.col("nt"))
    else:
        counts = (
            tgt.select("cx", "cy", F.lit(1).alias("nt"), F.lit(0).alias("nf"))
            .unionByName(foc.select("cx", "cy", F.lit(0).alias("nt"),
                                    F.lit(1).alias("nf")))
            .groupBy("cx", "cy")
            .agg(F.sum("nt").alias("nt"), F.sum("nf").alias("nf"))
        )
    cells = counts.toPandas()
    cx, cy = cells["cx"].to_numpy(np.int64), cells["cy"].to_numpy(np.int64)
    nt, nf = cells["nt"].to_numpy(np.int64), cells["nf"].to_numpy(np.int64)
    rects, home = _tile_rects(cx, cy, nt, nf,
                              spark.sparkContext.defaultParallelism,
                              TILE_TARGETS)
    has_t, has_f = nt > 0, nf > 0
    t_box = (cx[has_t].min(), cx[has_t].max(),
             cy[has_t].min(), cy[has_t].max())
    lookup = spark.createDataFrame(pd.DataFrame(
        {"cx": cx[has_f], "cy": cy[has_f], "tile": home[has_f]}), _CELLS)
    foc_t = foc.join(F.broadcast(lookup), ["cx", "cy"]).select(
        "tile", "id", "x", "y")
    tiles = np.unique(home[has_f])

    schema = _edge_schema(True)
    parts = []
    active = foc_t
    halo = 1
    for rnd in range(HALO_ROUNDS):
        ship, covers, vmax = [], {}, 0
        for t in tiles:
            x0, x1, y0, y1 = rects[t] + np.array([-halo, halo, -halo, halo])
            inside = has_t & (cx >= x0) & (cx <= x1) & (cy >= y0) & (cy <= y1)
            ship.append(pd.DataFrame({"cx": cx[inside], "cy": cy[inside],
                                      "tile": np.int32(t)}))
            vmax = max(vmax, int(nt[inside].sum()))
            covers[int(t)] = bool(x0 <= t_box[0] and x1 >= t_box[1]
                                  and y0 <= t_box[2] and y1 >= t_box[3])
        if rnd and vmax > HALO_TARGETS:
            break
        g = float(halo) * s
        res = _tile_round(
            active, tgt, spark.createDataFrame(pd.concat(ship), _CELLS),
            covers, g * g, kk, excl, gdiv, is_binary, schema,
        ).localCheckpoint(eager=True)
        parts.append(res.where(F.col("neighbor").isNotNull()))
        left = res.where(F.col("neighbor").isNull()).select(
            F.col("focal").alias("id"))
        if left.count() == 0:
            active = None
            break
        active = foc_t.join(left, "id", "left_semi").localCheckpoint(
            eager=True)
        tiles = np.array([r.tile for r in
                          active.select("tile").distinct().collect()])
        halo *= 2
    if active is not None:
        parts.append(_brute_force(active.select("id", "x", "y").toPandas(),
                                  tgt, kk, excl, gdiv, is_binary, schema))
    return reduce(lambda a, b: a.unionByName(b), parts).select(*cols)


def _tile_round(foc_t, tgt, ship, covers, g2, k, excl, gdiv, is_binary,
                schema):
    """One halo round: focals (tile, id, x, y) cogroup with the targets
    ``ship`` routes to each tile; the kernel's rows of settled focals
    come back as edges (with d2), each unsettled focal as one row with
    a null neighbor."""
    from pyspark.sql import functions as F

    # fresh attributes: the focal side may be the same frame
    tt = tgt.join(F.broadcast(ship), ["cx", "cy"]).select(
        "tile", *(F.col(c).alias(c) for c in ("id", "x", "y")))

    def run(key, fpdf, tpdf):
        fid, fx, fy = _arrays(fpdf)
        idx = build_target_index(*_arrays(tpdf), k)
        got = [knn_batch(fid[c], fx[c], fy[c], idx, k, excl, gdiv)
               for c in _focal_chunks(fx, fy, idx)]
        f = np.concatenate([r[0] for r in got])
        n = np.concatenate([r[1] for r in got])
        d2 = np.concatenate([r[2] for r in got])
        if covers[int(key[0])]:
            done = np.ones(len(f), bool)
        else:
            uf, inv, cnt = np.unique(f, return_inverse=True,
                                     return_counts=True)
            top = np.full(len(uf), -np.inf)
            np.maximum.at(top, inv, d2)
            done = ((cnt >= k) & (top < g2))[inv]
        out = edge_frame(f[done], n[done], d2[done], is_binary, True)
        rest = np.setdiff1d(fid, f[done])
        if len(rest) == 0:
            return out
        marks = pd.DataFrame({
            "focal": rest, "neighbor": pd.array([None] * len(rest),
                                                dtype="Int64"),
            "weight": np.nan, "d2": np.nan,
        })
        return pd.concat([out, marks], ignore_index=True)

    return (foc_t.groupBy("tile").cogroup(tt.groupBy("tile"))
            .applyInPandas(run, schema=schema))


def _focal_chunks(fx, fy, idx):
    """Slices of the focals for one kernel call each: at most
    ``_CHUNK`` focals and about ``_CANDIDATES`` first-ring candidates,
    estimated as the targets in a focal's own search cell times the
    ring's cells (3x3 on level 0, 9x9 on the fine grid of hot cells).
    Hot spots of coincident points otherwise put thousands of
    candidates behind every focal of a tile."""
    def in_cell(keys, sk):
        return np.searchsorted(sk, keys, "right") - np.searchsorted(sk, keys)

    key0 = _keys(fx, fy, idx["s0"])
    est = 9 * in_cell(key0, idx["sk0"])
    hot = np.isin(key0, idx["hot"])
    est[hot] = 81 * in_cell(_keys(fx[hot], fy[hot], idx["s_f"]), idx["sk_f"])
    cum = np.cumsum(np.maximum(est, 1))
    cuts = np.searchsorted(cum, np.arange(_CANDIDATES, cum[-1], _CANDIDATES)
                           if len(cum) else [])
    cuts = np.union1d(cuts, np.arange(_CHUNK, len(fx), _CHUNK))
    return np.split(np.arange(len(fx)), cuts) if len(fx) else [slice(0, 0)]


def _brute_force(rest: pd.DataFrame, tgt, k, excl, gdiv, is_binary, schema):
    """Exact top-k of the ``rest`` focals (collected, broadcast) against
    every target: the kernel runs per target batch, and the per-batch
    top-k rows merge by (d2, neighbor) rank."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = tgt.sparkSession
    bc = spark.sparkContext.broadcast(_arrays(rest))

    def partial(batches):
        fid, fx, fy = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            idx = build_target_index(*_arrays(pdf), k)
            f, n, d2 = knn_batch(fid, fx, fy, idx, k, excl, gdiv)
            yield pd.DataFrame({"focal": f, "neighbor": n, "d2": d2})

    def edges(batches):
        for pdf in batches:
            yield edge_frame(pdf["focal"].to_numpy(np.int64),
                             pdf["neighbor"].to_numpy(np.int64),
                             pdf["d2"].to_numpy(np.float64), is_binary, True)

    win = Window.partitionBy("focal").orderBy("d2", "neighbor")
    return (
        tgt.select("id", "x", "y")
        .mapInPandas(partial, schema="focal long, neighbor long, d2 double")
        .withColumn("_r", F.row_number().over(win))
        .where(F.col("_r") <= k)
        .drop("_r")
        .mapInPandas(edges, schema=schema)
        .localCheckpoint(eager=True)
    )
