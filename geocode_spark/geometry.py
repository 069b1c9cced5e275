"""Vectorized planar geometry kernels (pure numpy).

Replaces shapely's ``contains`` / ``distance`` as used inside GeoPandas
``sjoin`` / ``sjoin_nearest`` (/root/reference/geocode/utilities.py:266-284)
with batch numpy suitable for Arrow-vectorized pandas UDF execution.

Polygons are stored flattened: ``xs``/``ys`` float64 arrays of all ring
vertices concatenated, plus ``ring_offsets`` (int array, len n_rings+1) of
start offsets into xs/ys. Rings need not be closed (first point is treated
as following the last). Even-odd (ray crossing) semantics: holes are just
additional rings; multipolygon parts likewise.
"""

from __future__ import annotations

import numpy as np


def _ring_edges(xs, ys, ring_offsets):
    """Edge arrays (x1, y1, x2, y2) for all rings, closing each ring."""
    x1s, y1s, x2s, y2s = [], [], [], []
    for r in range(len(ring_offsets) - 1):
        a, b = ring_offsets[r], ring_offsets[r + 1]
        rx = xs[a:b]
        ry = ys[a:b]
        if len(rx) < 2:
            continue
        # drop explicit closure duplicate if present
        if rx[0] == rx[-1] and ry[0] == ry[-1]:
            rx = rx[:-1]
            ry = ry[:-1]
        if len(rx) < 3:
            continue
        x1s.append(rx)
        y1s.append(ry)
        x2s.append(np.roll(rx, -1))
        y2s.append(np.roll(ry, -1))
    if not x1s:
        z = np.empty(0, dtype=np.float64)
        return z, z, z, z
    return (np.concatenate(x1s), np.concatenate(y1s),
            np.concatenate(x2s), np.concatenate(y2s))


# Below this edge count the dense all-edges broadcast is faster than the
# y-bucketed ragged gather (measured crossover ~100-200 edges; gather index
# arithmetic dominates when buckets hold most of the table anyway).
_DENSE_EDGE_MAX = 160


class PreparedPolygon:
    """Edge-decomposed polygon: built once, probed many times.

    Holds the closed-ring edge arrays (so ``_ring_edges`` runs once per
    polygon instead of once per kernel call) plus a scanline y-bucket
    table for the ray-cast: an edge can only contribute a crossing to a
    point whose y lies inside the edge's y-span, so each point need test
    only the edges whose span intersects its bucket. Bucket membership is
    OVER-inclusive (an edge is listed in every bucket its y-span touches),
    which keeps the result bit-identical to the all-edges test — skipped
    elements are exactly those whose straddle condition is False (floor
    and IEEE subtract/divide are monotone, so span containment implies
    same-or-adjacent-covered bucket). ~E/n_buckets edges per probe instead
    of E: one order of magnitude less arithmetic and memory traffic on
    realistic (hundreds-of-vertices) boundaries.
    """

    __slots__ = ("x1", "y1", "x2", "y2", "dx", "dy", "elen2",
                 "by0", "bh", "nb", "boffs", "bx1", "by1", "by2",
                 "bdx", "bdy")

    def __init__(self, xs, ys, ring_offsets):
        x1, y1, x2, y2 = _ring_edges(np.asarray(xs, float),
                                     np.asarray(ys, float),
                                     np.asarray(ring_offsets, int))
        self.x1, self.y1, self.x2, self.y2 = x1, y1, x2, y2
        self.dx = x2 - x1
        self.dy = y2 - y1
        el2 = self.dx * self.dx + self.dy * self.dy
        self.elen2 = np.where(el2 == 0.0, 1.0, el2)
        n_edges = x1.size
        if n_edges == 0:
            self.nb = 0
            return
        ymin_e = np.minimum(y1, y2)
        ymax_e = np.maximum(y1, y2)
        gy0 = float(ymin_e.min())
        gy1 = float(ymax_e.max())
        nb = max(1, min(128, n_edges // 8))
        if gy1 <= gy0:
            nb = 1
        self.by0 = gy0
        self.bh = (gy1 - gy0) / nb if gy1 > gy0 else 1.0
        self.nb = nb
        lo = np.clip(((ymin_e - gy0) / self.bh).astype(np.int64), 0, nb - 1)
        hi = np.clip(((ymax_e - gy0) / self.bh).astype(np.int64), 0, nb - 1)
        cnt = hi - lo + 1
        tot = int(cnt.sum())
        eidx = np.repeat(np.arange(n_edges), cnt)
        binb = np.repeat(lo, cnt) + (
            np.arange(tot) - np.repeat(
                np.r_[np.int64(0), np.cumsum(cnt)[:-1]], cnt))
        order = np.argsort(binb, kind="stable")
        binb = binb[order]
        eidx = eidx[order]
        self.boffs = np.searchsorted(binb, np.arange(nb + 1)).astype(np.int64)
        # bucket-local contiguous edge copies: each probe streams a small
        # dense block instead of gathering strided rows of the full table
        self.bx1 = x1[eidx]
        self.by1 = y1[eidx]
        self.by2 = y2[eidx]
        self.bdx = self.dx[eidx]
        self.bdy = self.dy[eidx]


def points_in_polygon_prepared(px, py, pp: PreparedPolygon,
                               chunk: int = 65536) -> np.ndarray:
    """Even-odd ray-cast against a :class:`PreparedPolygon` (y-bucketed).

    Bit-identical to :func:`points_in_polygon`: per retained (point, edge)
    element the straddle test and intersection abscissa use the same
    expression tree (sub / div / mul / add, then strict compares), and the
    elements the bucket table skips are provably non-straddling.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    n = px.shape[0]
    out = np.zeros(n, dtype=bool)
    if getattr(pp, "nb", 0) == 0 or n == 0:
        return out
    if pp.x1.size <= _DENSE_EDGE_MAX:
        # Few edges: the dense (points x all-edges) broadcast beats the
        # ragged-gather machinery — the gather indices would cost more than
        # the skipped arithmetic saves. Identical expression tree over a
        # superset of elements (non-straddling edges are masked by the
        # straddle condition), so the result is the same bit pattern.
        # product cap 2^18 elements: keeps each (points x edges) temporary
        # ~2 MB, inside per-core cache (measured 2x faster than 2^21);
        # a caller's tighter chunk still caps the point count
        dchunk = max(1, min((1 << 18) // pp.x1.size, chunk))
        x1 = pp.x1[None, :]
        y1 = pp.y1[None, :]
        y2 = pp.y2[None, :]
        dx = pp.dx[None, :]
        dy = pp.dy[None, :]
        for s in range(0, n, dchunk):
            e = min(s + dchunk, n)
            pxx = px[s:e, None]
            pyy = py[s:e, None]
            cond = (y1 > pyy) != (y2 > pyy)
            t = pyy - y1
            with np.errstate(divide="ignore", invalid="ignore"):
                t /= dy
            t *= dx
            t += x1
            crossings = (cond & (pxx < t)).sum(axis=1)
            out[s:e] = (crossings % 2) == 1
        return out
    for s in range(0, n, chunk):
        e = min(s + chunk, n)
        pxc = px[s:e]
        pyc = py[s:e]
        ib = np.clip(((pyc - pp.by0) / pp.bh).astype(np.int64), 0, pp.nb - 1)
        bs = pp.boffs[ib]
        pr, slot = _ragged(bs, pp.boffs[ib + 1] - bs)
        y1 = pp.by1[slot]
        y2 = pp.by2[slot]
        pyy = pyc[pr]
        c1 = y1 > pyy
        c2 = y2 > pyy
        np.not_equal(c1, c2, out=c1)           # edge straddles the ray
        t = pyy - y1
        with np.errstate(divide="ignore", invalid="ignore"):
            t /= pp.bdy[slot]
        t *= pp.bdx[slot]
        t += pp.bx1[slot]                      # xint, same rounding as below
        np.less(pxc[pr], t, out=c2)
        c2 &= c1
        crossings = np.bincount(pr[c2], minlength=e - s)
        out[s:e] = (crossings % 2) == 1
    return out


def points_in_polygon(px, py, xs, ys, ring_offsets, chunk: int = 4096) -> np.ndarray:
    """Even-odd ray-cast: bool mask of points inside the polygon.

    One-shot convenience over :func:`points_in_polygon_prepared` — callers
    that probe the same polygon repeatedly should build the
    :class:`PreparedPolygon` once and reuse it. ``chunk`` still bounds the
    per-chunk point count (and thus the transient (points x edges)
    footprint), as it did before the prepared path existed.
    """
    return points_in_polygon_prepared(px, py,
                                      PreparedPolygon(xs, ys, ring_offsets),
                                      chunk=chunk)


def _dist_kernel(px, py, xs, ys, ring_offsets, chunk: int,
                 metric: bool) -> np.ndarray:
    """Shared min point-to-boundary segment-distance kernel.

    ``metric=False``: planar units of the input coordinates.
    ``metric=True``: local equirectangular METRES — x-differences (point
    offsets AND edge vectors) are scaled by cos(lat_point) before the
    projection, so the clamped foot-point is the true nearest point of the
    scaled space; the result is multiplied by METERS_PER_DEG.
    """
    return _dist_kernel_prepared(px, py, PreparedPolygon(xs, ys, ring_offsets),
                                 chunk, metric)


def _dist_kernel_prepared(px, py, pp: PreparedPolygon, chunk: int,
                          metric: bool) -> np.ndarray:
    """:func:`_dist_kernel` against a prebuilt :class:`PreparedPolygon`
    (identical arithmetic; the edge decomposition is just reused)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x1, y1 = pp.x1, pp.y1
    out = np.full(px.shape[0], np.inf)
    if x1.size == 0:
        return out
    ex = pp.dx
    ey = pp.dy
    if not metric:
        # planar fast path: edge geometry is point-independent, so edge
        # vectors and squared lengths are 1-D and computed ONCE
        elen2 = pp.elen2
    for s in range(0, px.shape[0], chunk):
        e = min(s + chunk, px.shape[0])
        dys = py[s:e, None] - y1[None, :]
        if metric:
            # per-point anisotropic scale S = diag(cos(lat), 1): edge
            # vectors (and their lengths) become point-dependent matrices
            c = np.cos(np.radians(py[s:e]))[:, None]
            dxs = (px[s:e, None] - x1[None, :]) * c
            exs = ex[None, :] * c
            el2 = exs * exs + ey[None, :] * ey[None, :]
            el2 = np.where(el2 == 0.0, 1.0, el2)
        else:
            dxs = px[s:e, None] - x1[None, :]
            exs = ex[None, :]
            el2 = elen2[None, :]
        t = np.clip((dxs * exs + dys * ey[None, :]) / el2, 0.0, 1.0)
        qx = dxs - t * exs
        qy = dys - t * ey[None, :]
        d = np.sqrt((qx * qx + qy * qy).min(axis=1))
        out[s:e] = d * METERS_PER_DEG if metric else d
    inside = points_in_polygon_prepared(px, py, pp)
    out[inside] = 0.0
    return out


def dist_to_polygon_prepared(px, py, pp: PreparedPolygon,
                             chunk: int = 2048) -> np.ndarray:
    """:func:`dist_to_polygon` against a prebuilt :class:`PreparedPolygon`."""
    return _dist_kernel_prepared(px, py, pp, chunk, metric=False)


def dist_to_polygon_m_prepared(px, py, pp: PreparedPolygon,
                               chunk: int = 2048) -> np.ndarray:
    """:func:`dist_to_polygon_m` against a prebuilt
    :class:`PreparedPolygon`."""
    return _dist_kernel_prepared(px, py, pp, chunk, metric=True)


class EdgeTable:
    """Many :class:`PreparedPolygon` y-bucket tables in one set of arrays.

    Edge arrays ``x1 y1 y2 dx dy`` (plus the planar squared length
    ``elen2``) hold every polygon's bucket-ordered edges, then every
    polygon's plain edge list. Polygon ``p``'s bucket offsets are
    ``boffs[bbase[p]:bbase[p] + nb[p] + 1]`` and its plain edges start at
    ``ebase[p]`` (``ne[p]`` of them). One ragged gather then reaches the
    edges of any mix of (point, polygon) pairs.
    """

    __slots__ = ("x1", "y1", "y2", "dx", "dy", "elen2",
                 "by0", "bh", "nb", "bbase", "boffs", "ebase", "ne")

    def __init__(self, polys: list):
        live = [pp for pp in polys if pp.nb > 0]
        self.nb = np.array([pp.nb for pp in polys], np.int64)
        self.by0 = np.array([pp.by0 if pp.nb else 0.0 for pp in polys])
        self.bh = np.array([pp.bh if pp.nb else 1.0 for pp in polys])
        size = self.nb + (self.nb > 0)
        self.bbase = np.cumsum(size) - size
        bucketed = np.cumsum([0] + [pp.bx1.size for pp in live])
        self.boffs = np.concatenate(
            [np.empty(0, np.int64)]
            + [pp.boffs + b for pp, b in zip(live, bucketed)])
        self.ne = np.array([pp.x1.size for pp in polys], np.int64)
        self.ebase = bucketed[-1] + np.cumsum(self.ne) - self.ne
        for name, src, plain in (("x1", "bx1", "x1"), ("y1", "by1", "y1"),
                                 ("y2", "by2", "y2"), ("dx", "bdx", "dx"),
                                 ("dy", "bdy", "dy")):
            setattr(self, name, np.concatenate(
                [np.empty(0)] + [getattr(pp, src) for pp in live]
                + [getattr(pp, plain) for pp in live]))
        el2 = self.dx * self.dx + self.dy * self.dy
        self.elen2 = np.where(el2 == 0.0, 1.0, el2)


def _ragged(starts: np.ndarray, cnt: np.ndarray):
    """(row, slot) over the ranges [starts[i], starts[i] + cnt[i])."""
    tot = int(cnt.sum())
    row = np.repeat(np.arange(cnt.size), cnt)
    slot = np.repeat(starts - np.r_[np.int64(0), np.cumsum(cnt)[:-1]], cnt) \
        + np.arange(tot, dtype=np.int64)
    return row, slot


def dist_to_polygons_pairs(px, py, poly, reach, et: EdgeTable, metric: bool,
                           chunk: int = 1 << 16) -> np.ndarray:
    """Distance from point ``i`` to polygon ``poly[i]``, many pairs at once.

    Bounded by ``reach`` (per pair, in the output unit): a pair whose
    distance is at most ``reach`` gets exactly the value
    :func:`_dist_kernel_prepared` gives it; any other pair gets a value above
    ``reach``, or ``inf``. Only edges whose y-span lies within ``reach`` of
    the point's y can be that close (a segment is never nearer than its
    y-gap, and metre distances leave y unscaled), so each pair gathers just
    the y-buckets overlapping ``py +- reach`` (padded outward far beyond
    rounding). Per (pair, edge) element the expression tree is the
    per-polygon kernel's; a pair's minimum is taken over a subset that holds
    its nearest edge, so the result is bit-identical. Containment is the
    even-odd ray-cast over the point's own bucket (distance 0 inside).
    ``chunk`` caps the (pair x edge) elements held at once.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out = np.full(px.shape[0], np.inf)
    sel = np.flatnonzero(et.nb[poly] > 0)
    if sel.size == 0:
        return out
    px, py, poly = px[sel], py[sel], poly[sel]
    band = np.asarray(reach, np.float64)[sel]
    if metric:
        band = band / METERS_PER_DEG
    band = band * (1.0 + 1e-9) + 1e-9
    by0 = et.by0[poly]
    bh = et.bh[poly]
    top = et.nb[poly] - 1
    base = et.bbase[poly]
    lo = np.clip((py - band - by0) / bh, 0, top).astype(np.int64)
    hi = np.clip((py + band - by0) / bh, 0, top).astype(np.int64)
    ib = np.clip(((py - by0) / bh).astype(np.int64), 0, top)  # ray-cast bucket
    d_start = et.boffs[base + lo]
    d_cnt = et.boffs[base + hi + 1] - d_start
    # edges spanning several buckets repeat in the bucketed order: once
    # the buckets in reach hold more than the polygon, take its plain list
    plain = d_cnt >= et.ne[poly]
    d_start[plain] = et.ebase[poly[plain]]
    d_cnt[plain] = et.ne[poly[plain]]
    r_start = et.boffs[base + ib]
    r_cnt = et.boffs[base + ib + 1] - r_start
    cum = np.cumsum(d_cnt + r_cnt)
    a = 0
    while a < sel.size:
        b = max(int(np.searchsorted(cum, (cum[a - 1] if a else 0) + chunk,
                                    side="right")), a + 1)
        out[sel[a:b]] = _pairs_chunk(px[a:b], py[a:b], d_start[a:b],
                                     d_cnt[a:b], r_start[a:b], r_cnt[a:b],
                                     et, metric)
        a = b
    return out


def _pairs_chunk(px, py, d_start, d_cnt, r_start, r_cnt, et: EdgeTable,
                 metric: bool) -> np.ndarray:
    d2min = np.full(px.shape[0], np.inf)
    has = np.flatnonzero(d_cnt)
    if has.size:
        # the per-polygon kernel's expression tree, evaluated in place
        row, slot = _ragged(d_start, d_cnt)
        ey = et.dy[slot]
        dys = py[row]
        dys -= et.y1[slot]
        dxs = px[row]
        dxs -= et.x1[slot]
        if metric:
            c = np.cos(np.radians(py))[row]
            dxs *= c
            exs = et.dx[slot]
            exs *= c
            el2 = exs * exs
            np.multiply(ey, ey, out=c)
            el2 += c
            el2[el2 == 0.0] = 1.0
        else:
            exs = et.dx[slot]
            el2 = et.elen2[slot]
        t = dxs * exs
        tmp = dys * ey
        t += tmp
        t /= el2
        np.clip(t, 0.0, 1.0, out=t)
        np.multiply(t, exs, out=tmp)
        dxs -= tmp                             # qx
        np.multiply(t, ey, out=tmp)
        dys -= tmp                             # qy
        dxs *= dxs
        dys *= dys
        dxs += dys
        first = np.cumsum(d_cnt)[has] - d_cnt[has]
        d2min[has] = np.minimum.reduceat(dxs, first)
    d = np.sqrt(d2min)
    if metric:
        d = d * METERS_PER_DEG
    row, slot = _ragged(r_start, r_cnt)
    if slot.size:
        y1 = et.y1[slot]
        pyy = py[row]
        c1 = y1 > pyy
        c2 = et.y2[slot] > pyy
        np.not_equal(c1, c2, out=c1)           # edge straddles the ray
        t = pyy - y1
        with np.errstate(divide="ignore", invalid="ignore"):
            t /= et.dy[slot]
        t *= et.dx[slot]
        t += et.x1[slot]
        np.less(px[row], t, out=c2)
        c2 &= c1
        d[np.bincount(row[c2], minlength=px.shape[0]) % 2 == 1] = 0.0
    return d


def dist_to_polygon(px, py, xs, ys, ring_offsets, chunk: int = 2048) -> np.ndarray:
    """Min distance from each point to the polygon boundary (planar units).

    Points inside the polygon get distance 0 (membership semantics of
    ``sjoin_nearest``: distance to geometry is 0 when contained).
    """
    return _dist_kernel(px, py, xs, ys, ring_offsets, chunk, metric=False)


# metres per degree of latitude (equirectangular local approximation); the
# longitude step scales by cos(latitude). Shared with the DuckDB oracle
# formula in __spark_entry__ so both sides use the identical constant.
METERS_PER_DEG = 111320.0


def dist_to_polygon_m(px, py, xs, ys, ring_offsets, chunk: int = 2048) -> np.ndarray:
    """Min distance in METRES from WGS84 points to a WGS84 polygon boundary.

    Local equirectangular scaling per point (see _dist_kernel). This is the
    metre-unit parity path for the reference's
    ``sjoin_nearest(..., max_distance)`` whose distances are in the regions'
    CRS units — metres for every BNG-sourced dataset
    (/root/reference/geocode/utilities.py:253-284). Exact to the local-
    flat-earth approximation (<0.1% at region scale), vs the ~0.04% scale
    distortion BNG itself carries.

    Points inside the polygon get distance 0 (containment semantics).
    """
    return _dist_kernel(px, py, xs, ys, ring_offsets, chunk, metric=True)


def _seg_rect_intersect(x1, y1, x2, y2, rx0, ry0, rx1, ry1):
    """Bool matrix (rects x edges): does the segment intersect the rect?

    Separating-axis style: reject if the segment bbox misses the rect, then
    check whether both rect corners pairs lie strictly on the same side of
    the segment line (no intersection) — standard Cohen-Sutherland-ish test.
    """
    # segment bbox vs rect bbox overlap
    sxmin = np.minimum(x1, x2)[None, :]
    sxmax = np.maximum(x1, x2)[None, :]
    symin = np.minimum(y1, y2)[None, :]
    symax = np.maximum(y1, y2)[None, :]
    bbox_ok = (
        (sxmin <= rx1[:, None]) & (sxmax >= rx0[:, None])
        & (symin <= ry1[:, None]) & (symax >= ry0[:, None])
    )
    # line side test: f(px,py) = (x2-x1)(py-y1) - (y2-y1)(px-x1)
    ex = (x2 - x1)[None, :]
    ey = (y2 - y1)[None, :]
    def side(px, py):
        return ex * (py - y1[None, :]) - ey * (px - x1[None, :])
    s1 = side(rx0[:, None], ry0[:, None])
    s2 = side(rx1[:, None], ry0[:, None])
    s3 = side(rx1[:, None], ry1[:, None])
    s4 = side(rx0[:, None], ry1[:, None])
    all_pos = (s1 > 0) & (s2 > 0) & (s3 > 0) & (s4 > 0)
    all_neg = (s1 < 0) & (s2 < 0) & (s3 < 0) & (s4 < 0)
    return bbox_ok & ~(all_pos | all_neg)


def segments_intersect_rect(xs, ys, ring_offsets, rx0, ry0, rx1, ry1,
                            chunk: int = 1024) -> np.ndarray:
    """For each rect (arrays rx0..ry1): does ANY polygon edge intersect it?"""
    x1, y1, x2, y2 = _ring_edges(np.asarray(xs, float), np.asarray(ys, float),
                                 np.asarray(ring_offsets, int))
    nrect = np.asarray(rx0).shape[0]
    out = np.zeros(nrect, dtype=bool)
    if x1.size == 0:
        return out
    rx0 = np.asarray(rx0, float)
    ry0 = np.asarray(ry0, float)
    rx1 = np.asarray(rx1, float)
    ry1 = np.asarray(ry1, float)
    for s in range(0, nrect, chunk):
        e = min(s + chunk, nrect)
        m = _seg_rect_intersect(x1, y1, x2, y2, rx0[s:e], ry0[s:e], rx1[s:e], ry1[s:e])
        out[s:e] = m.any(axis=1)
    return out


def polygon_bbox(xs, ys):
    xs = np.asarray(xs, float)
    ys = np.asarray(ys, float)
    return float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())
