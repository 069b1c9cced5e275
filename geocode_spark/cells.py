"""H3/S2-style discrete global grid, engine-built (SURVEY.md §2.8 F10).

A Z-order (Morton) cell index over an equirectangular lat/lon grid:

* at resolution ``r`` the world is a ``2^r x 2^r`` grid (lon in [-180,180),
  lat in [-90,90));
* ``cell_of(lat, lon, r)`` returns a single int64 encoding
  ``(r << 58) | morton(i, j)`` so cells at different resolutions never
  collide in a join key;
* ``kring(cell, k)`` returns the square disc of neighbours within
  Chebyshev distance ``k`` (the kNN fallback's ring expansion builds its
  own ring perimeters from ``cell_to_ij``/``cell_from_ij``);
* ``covering_cells(xs, ys, ...)`` rasterizes one polygon into the set of
  cells intersecting it, classifying each as *interior* (entirely inside, so
  points in it skip the exact point-in-polygon test — the Raptor-style
  raster/vector shortcut, SURVEY.md §4) or *boundary*.

Everything is numpy bit math — no external geo deps — so it runs inside
Arrow-vectorized pandas UDFs (replaces the R-tree GeoPandas uses internally
in ``sjoin``; cf. /root/reference/geocode/utilities.py:267).
"""

from __future__ import annotations

import numpy as np

from .geometry import points_in_polygon, segments_intersect_rect

MAX_RES = 26  # 2*26 = 52 morton bits + 5 resolution bits < 63
_RES_SHIFT = 58


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Interleave zeros between the low 26 bits of v (Morton helper)."""
    v = v.astype(np.uint64)
    v &= np.uint64(0x3FFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _unpart1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x3FFFFFF)
    return v


def _ij_of(lat: np.ndarray, lon: np.ndarray, res: int):
    n = np.int64(1) << res
    i = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    j = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n).astype(np.int64)
    i = np.clip(i, 0, n - 1)
    j = np.clip(j, 0, n - 1)
    return i, j


def cell_of(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    """Encode (lat, lon) into an int64 cell id at resolution ``res``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution must be in [0, {MAX_RES}]")
    i, j = _ij_of(lat, lon, res)
    morton = _part1by1(i) | (_part1by1(j) << np.uint64(1))
    out = (np.uint64(res) << np.uint64(_RES_SHIFT)) | morton
    return out.astype(np.int64)


def cell_from_ij(i: np.ndarray, j: np.ndarray, res: int) -> np.ndarray:
    morton = _part1by1(np.asarray(i)) | (_part1by1(np.asarray(j)) << np.uint64(1))
    return ((np.uint64(res) << np.uint64(_RES_SHIFT)) | morton).astype(np.int64)


def cell_to_ij(cell: np.ndarray):
    """Decode cell id -> (res, i, j)."""
    c = np.asarray(cell).astype(np.uint64)
    res = (c >> np.uint64(_RES_SHIFT)).astype(np.int64)
    morton = c & ((np.uint64(1) << np.uint64(_RES_SHIFT)) - np.uint64(1))
    i = _unpart1by1(morton).astype(np.int64)
    j = _unpart1by1(morton >> np.uint64(1)).astype(np.int64)
    return res, i, j


def cell_bounds(cell: np.ndarray):
    """Cell id -> (lon_min, lat_min, lon_max, lat_max) arrays."""
    res, i, j = cell_to_ij(cell)
    n = (np.int64(1) << res).astype(np.float64)
    lon_min = i / n * 360.0 - 180.0
    lat_min = j / n * 180.0 - 90.0
    return lon_min, lat_min, lon_min + 360.0 / n, lat_min + 180.0 / n


def kring(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k of `cell` (the (2k+1)^2 disc)."""
    res, i, j = cell_to_ij(np.asarray([cell]))
    res = int(res[0])
    n = np.int64(1) << res
    di, dj = np.meshgrid(np.arange(-k, k + 1), np.arange(-k, k + 1))
    ii = (i[0] + di.ravel()) % n  # wrap longitude
    jj = np.clip(j[0] + dj.ravel(), 0, n - 1)
    out = cell_from_ij(ii, jj, res)
    return np.unique(out)


def pick_resolution(bbox_w: float, bbox_h: float, target_cells_across: int = 8) -> int:
    """Resolution where the polygon bbox spans ~target_cells_across cells."""
    span = max(bbox_w / 360.0, bbox_h / 180.0, 1e-15)
    # log2(1/span) puts the bbox one cell across; add bits for the target
    res = int(np.floor(np.log2(1.0 / span))) + int(np.ceil(np.log2(target_cells_across)))
    return max(0, min(MAX_RES, res))


def covering_cells(xs: np.ndarray, ys: np.ndarray, ring_offsets: np.ndarray, res: int):
    """Rasterize one polygon (possibly multi-ring) into covering cells.

    Parameters: flattened ring coordinates ``xs``/``ys`` (lon/lat degrees)
    with ``ring_offsets`` delimiting rings (len = n_rings+1, offsets into xs).

    Returns ``(cells: int64[], interior: bool[])`` where *interior* cells lie
    entirely inside the polygon (no boundary edge crosses them and their
    center is inside) and *boundary* cells intersect the boundary.
    Cells entirely outside are omitted.
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    n = np.int64(1) << res
    lon_step = 360.0 / float(n)
    lat_step = 180.0 / float(n)
    i0 = int(np.floor((xs.min() + 180.0) / lon_step))
    i1 = int(np.floor((xs.max() + 180.0) / lon_step))
    j0 = int(np.floor((ys.min() + 90.0) / lat_step))
    j1 = int(np.floor((ys.max() + 90.0) / lat_step))
    i0, i1 = max(i0, 0), min(i1, int(n) - 1)
    j0, j1 = max(j0, 0), min(j1, int(n) - 1)

    ii, jj = np.meshgrid(np.arange(i0, i1 + 1), np.arange(j0, j1 + 1))
    ii = ii.ravel()
    jj = jj.ravel()
    rx0 = ii * lon_step - 180.0
    ry0 = jj * lat_step - 90.0
    rx1 = rx0 + lon_step
    ry1 = ry0 + lat_step

    # boundary cells: any polygon edge intersects the cell rect
    crossed = segments_intersect_rect(xs, ys, ring_offsets, rx0, ry0, rx1, ry1)
    # for non-crossed cells, the whole cell is on one side: classify by center
    cx = (rx0 + rx1) * 0.5
    cy = (ry0 + ry1) * 0.5
    center_in = points_in_polygon(cx, cy, xs, ys, ring_offsets)

    keep = crossed | center_in
    interior = center_in & ~crossed
    cells = cell_from_ij(ii[keep], jj[keep], res)
    return cells, interior[keep]
