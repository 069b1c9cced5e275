"""Independent output check for region assignments: brute-force geometry.

Nothing here imports ``geocode_spark``: the region assignment is recomputed
with a plain even-odd ray crossing over every ring edge of every candidate
polygon (bbox prefilter only, no cell index), so a defect in the engine's
cell cover, interior shortcut or ray-cast kernel shows up as a mismatch.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

# metres per degree of latitude for the local equirectangular distance;
# the same constant the engine's metre bound is defined with
METERS_PER_DEG = 111320.0


@dataclass
class Rings:
    """One region set: ids in region_seq order plus flat ring arrays."""

    ids: np.ndarray          # region ids, keep-first (region_seq) order
    xs: list                 # per region: flat x (lon) array of all rings
    ys: list
    offs: list               # per region: ring start offsets, len = rings + 1
    bbox: np.ndarray         # (n, 4) xmin, ymin, xmax, ymax


def load_rings(prepared_dir: str) -> Rings:
    """Read a prepared set's ``geoms.parquet`` with pandas only."""
    g = pd.read_parquet(f"{prepared_dir}/geoms.parquet").sort_values(
        "region_seq", kind="stable")
    xs = [np.asarray(v, dtype=np.float64) for v in g["xs"]]
    ys = [np.asarray(v, dtype=np.float64) for v in g["ys"]]
    offs = [np.asarray(v, dtype=np.int64) for v in g["ring_offsets"]]
    bbox = np.array([[x.min(), y.min(), x.max(), y.max()]
                     for x, y in zip(xs, ys)], dtype=np.float64)
    return Rings(np.asarray(g["region_id"], dtype=object), xs, ys, offs, bbox)


def _edges(xs, ys, offs):
    """Edge start/end arrays over all rings (each ring closed implicitly)."""
    x0, y0, x1, y1 = [], [], [], []
    for a, b in zip(offs[:-1], offs[1:]):
        x, y = xs[a:b], ys[a:b]
        x0.append(x)
        y0.append(y)
        x1.append(np.roll(x, -1))
        y1.append(np.roll(y, -1))
    return (np.concatenate(x0), np.concatenate(y0),
            np.concatenate(x1), np.concatenate(y1))


def even_odd(px, py, xs, ys, offs, chunk: int = 2048) -> np.ndarray:
    """Even-odd membership of points in one polygon (holes = extra rings).

    A point is inside when a ray towards +x crosses the boundary an odd
    number of times; an edge counts when it straddles the point's y (half
    open, so a shared vertex is counted once)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x0, y0, x1, y1 = _edges(xs, ys, offs)
    out = np.zeros(px.size, dtype=bool)
    with np.errstate(divide="ignore", invalid="ignore"):
        for s in range(0, px.size, chunk):
            qx = px[s:s + chunk, None]
            qy = py[s:s + chunk, None]
            straddle = (y0 > qy) != (y1 > qy)
            xcross = x0 + (qy - y0) * (x1 - x0) / (y1 - y0)
            crossings = np.count_nonzero(straddle & (qx < xcross), axis=1)
            out[s:s + chunk] = crossings % 2 == 1
    return out


def assign(px, py, rings: Rings) -> np.ndarray:
    """Region id of the first containing polygon (None when outside all)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out = np.full(px.size, None, dtype=object)
    open_ = np.ones(px.size, dtype=bool)
    for r in range(len(rings.ids)):
        xmin, ymin, xmax, ymax = rings.bbox[r]
        cand = np.flatnonzero(open_ & (px >= xmin) & (px <= xmax)
                              & (py >= ymin) & (py <= ymax))
        if cand.size == 0:
            continue
        hit = cand[even_odd(px[cand], py[cand], rings.xs[r], rings.ys[r],
                            rings.offs[r])]
        out[hit] = rings.ids[r]
        open_[hit] = False
    return out


def boundary_distance_m(px, py, xs, ys, offs) -> np.ndarray:
    """Metres from each point to the nearest edge of one polygon, with x
    differences scaled by cos(latitude of the point)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x0, y0, x1, y1 = _edges(xs, ys, offs)
    c = np.cos(np.radians(py))[:, None]
    dx, dy = (px[:, None] - x0) * c, py[:, None] - y0
    ex, ey = (x1 - x0) * c, np.broadcast_to(y1 - y0, dx.shape)
    el2 = ex * ex + ey * ey
    t = np.clip((dx * ex + dy * ey) / np.where(el2 == 0.0, 1.0, el2), 0.0, 1.0)
    qx, qy = dx - t * ex, dy - t * ey
    return np.sqrt((qx * qx + qy * qy).min(axis=1)) * METERS_PER_DEG


def distances_m(px, py, rings: Rings) -> np.ndarray:
    """(points, regions) matrix of boundary distances in metres."""
    return np.stack([boundary_distance_m(px, py, rings.xs[r], rings.ys[r],
                                         rings.offs[r])
                     for r in range(len(rings.ids))], axis=1)


def check_assignments(px, py, got, rings: Rings,
                      max_distance_m: float | None = None) -> int:
    """Number of points whose engine answer ``got`` disagrees with brute
    force. Inside points must get the first containing region. With a metre
    bound, outside points must get a region whose boundary is no farther
    than the nearest one (ties between equidistant regions are accepted),
    or None when every region is beyond the bound."""
    got = np.asarray(got, dtype=object)
    want = assign(px, py, rings)
    inside = pd.notna(want)
    bad = int(np.count_nonzero(inside & (got != want)))
    out = np.flatnonzero(~inside)
    if out.size == 0:
        return bad
    if max_distance_m is None:
        return bad + int(np.count_nonzero(pd.notna(got[out])))
    d = distances_m(np.asarray(px)[out], np.asarray(py)[out], rings)
    best = d.min(axis=1)
    col = {rid: i for i, rid in enumerate(rings.ids)}
    for k, g in enumerate(got[out]):
        if best[k] > max_distance_m:
            bad += g is not None and not pd.isna(g)
        elif g is None or pd.isna(g) or g not in col:
            bad += 1
        else:
            bad += d[k, col[g]] > best[k] * (1 + 1e-9) + 1e-6
    return bad
