"""Distributed reverse geocode: (lat, lon) points -> region assignments.

Re-expresses the reference's computational core
``utilities.reverse_geocode`` (/root/reference/geocode/utilities.py:238-289):

  1. points reprojected into the regions' space     -> prep normalizes
     regions to WGS84 instead (regions.py), same assignments
  2. R-tree candidate lookup + exact ``contains``   -> covering-cell equi-join
     (broadcast) + ray-cast PIP in Arrow batches; *interior* cells skip the
     exact test (raster/vector shortcut)
  3. boundary-tie dedup keep-first                  -> min(region_seq) per row
     (region_seq = stable region input order, GeoPandas keep-first parity)
  4. bounded nearest for misses (sjoin_nearest)     -> k-ring expansion over
     neighbour cells; each round scores its new (point, region) pairs in
     one pass over an all-regions edge table (only the edges within reach
     of each pair), exact point-to-polygon distance, take argmin
  5. NA -> None normalization                       -> SQL NULL natively

Two physical strategies, both shuffle-free on the candidate side, both
one ``functions.udfs.arrow_map`` pass (input columns pass through as the
batch's own Arrow arrays, never through pandas) over one ray-cast helper,
``_ray_cast``:

* ``fused`` (default): one ``mapInArrow`` pass per partition — cell encode,
  candidate probe against the broadcast cover index, ray-cast, dedup, and
  kNN fallback all inside a single Arrow batch. Zero shuffles; the plan is
  scan -> MapInArrow -> (sink). Skew-proof: no shuffle keys exist. Single-
  and multi-set calls run the same batch loop (``_fused``, one spec per set).
* ``join``: Catalyst-visible BroadcastHashJoin of points vs the covering-cell
  map, then mapInArrow PIP on candidates (against the same broadcast
  ``_CoverIndex`` the fused loop probes), then one aggregation shuffle per
  row_id. Useful when the candidate set should be materialized / audited.

Each prepared set is broadcast as one ``_CoverIndex``, and the prep holds
that broadcast for its context (``_broadcast_index``): every call with the
same prep reuses it, and it is freed with the prep like any unreferenced
broadcast. A python worker unpickles the index when it loads the
broadcast, and PySpark keeps a loaded broadcast in the worker for as long
as the tasks it runs use it, so the probe arrays are built once per worker
and run of such tasks, never per batch.

At 100 TB the fused path streams straight off the scan with per-partition
Python workers doing vectorized numpy; nothing is collected to the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, LongType, StringType, StructField

from ..cells import cell_of, cell_to_ij, cell_from_ij
from ..functions.udfs import arrow_map, cell_udf
from ..geometry import (METERS_PER_DEG, EdgeTable, PreparedPolygon, _ragged,
                        dist_to_polygons_pairs, points_in_polygon_prepared)
from ..regions import PreparedRegions


class _CoverIndex:
    """Probe structure over one region set's (cover, geoms): the value a
    prepared set broadcasts.

    It pickles as its ``(cover, geoms)`` pair, so the broadcast ships the
    same bytes as the two tables, and a worker builds the probe arrays
    once, when it unpickles the broadcast. Cover rows are sorted by cell
    at build time; a probe is a ``searchsorted`` + ragged gather over int
    arrays, so per-batch work is proportional to the batch, not to the
    cover map. Regions are addressed by position: ``rids[i]`` is the id,
    ``code`` maps id -> i. Each region's geometry is edge-decomposed
    lazily, once (PreparedPolygon y-bucket tables). Both strategies probe
    it: the fused loop for the whole lookup, the join strategy for its
    ray-casts.
    """

    __slots__ = ("cover", "geoms", "cells", "starts", "cand_rid", "cand_seq",
                 "cand_interior", "rids", "code", "bbox", "_pp", "_edges")

    def __init__(self, cover: pd.DataFrame, geoms: dict):
        self.cover = cover
        self.geoms = geoms
        if cover is None or len(cover) == 0:
            z = np.empty(0, np.int64)
            self.cells = z
            self.starts = np.zeros(1, np.int64)
            self.cand_rid = z
            self.cand_seq = z
            self.cand_interior = np.empty(0, bool)
            self.rids = np.empty(0, object)
        else:
            cells = cover["cell"].to_numpy(np.int64)
            codes, rids = pd.factorize(cover["region_id"])
            self.rids = np.asarray(rids, dtype=object)
            order = np.argsort(cells, kind="stable")
            sc = cells[order]
            first = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
            self.cells = sc[first]
            self.starts = np.r_[first, len(sc)].astype(np.int64)
            self.cand_rid = np.asarray(codes, np.int64)[order]
            self.cand_seq = cover["region_seq"].to_numpy(np.int64)[order]
            self.cand_interior = cover["interior"].to_numpy(bool)[order]
        self.code = {r: i for i, r in enumerate(self.rids)}
        self.bbox = [geoms[r][3] for r in self.rids]
        self._pp: list = [None] * len(self.rids)  # lazy PreparedPolygon
        self._edges = None

    def __reduce__(self):
        return _CoverIndex, (self.cover, self.geoms)

    def prepared(self, r: int) -> PreparedPolygon:
        pp = self._pp[r]
        if pp is None:
            xs, ys, offs, _bbox = self.geoms[self.rids[r]]
            pp = self._pp[r] = PreparedPolygon(xs, ys, offs)
        return pp

    def lookup(self, pcells: np.ndarray):
        """cells -> (pt, slot): pt indexes the probe arrays, slot the
        candidate arrays (one row per matching cover entry)."""
        if len(self.cells) == 0 or len(pcells) == 0:
            z = np.empty(0, np.int64)
            return z, z
        loc = np.searchsorted(self.cells, pcells)
        np.minimum(loc, len(self.cells) - 1, out=loc)
        h = np.flatnonzero(self.cells[loc] == pcells)
        s = self.starts[loc[h]]
        row, slot = _ragged(s, self.starts[loc[h] + 1] - s)
        return h[row], slot

    def edge_table(self) -> EdgeTable:
        """Every region's y-bucket edges in one table (kNN pair scoring)."""
        if self._edges is None:
            self._edges = EdgeTable([self.prepared(r)
                                     for r in range(len(self.rids))])
        return self._edges


def _ray_cast(index: _CoverIndex, px: np.ndarray, py: np.ndarray,
              code: np.ndarray) -> np.ndarray:
    """Exact point-in-polygon of each point ``(px[i], py[i])`` against the
    region ``code[i]`` indexes: a bbox prefilter, then one bucketed
    ray-cast batch per region."""
    ok = np.zeros(len(code), dtype=bool)
    if len(code) == 0:
        return ok
    order = np.argsort(code, kind="stable")
    rs = code[order]
    gb = np.flatnonzero(np.r_[True, rs[1:] != rs[:-1]])
    ge = np.r_[gb[1:], len(rs)]
    for g0, g1 in zip(gb, ge):
        rows = order[g0:g1]
        r = int(rs[g0])
        bb = index.bbox[r]
        pxg = px[rows]
        pyg = py[rows]
        in_bbox = ((pxg >= bb[0]) & (pxg <= bb[2])
                   & (pyg >= bb[1]) & (pyg <= bb[3]))
        if in_bbox.any():
            ok[rows[in_bbox]] = points_in_polygon_prepared(
                pxg[in_bbox], pyg[in_bbox], index.prepared(r))
    return ok


def _assign_batch(index: _CoverIndex, lat: np.ndarray, lon: np.ndarray,
                  res: int) -> np.ndarray:
    """One batch of finite points -> object array of region ids (None=miss).

    Covering-cell probe, interior-cell raster shortcut, ray-cast
    (:func:`_ray_cast`) for boundary candidates, keep-first (min
    region_seq) per point — GeoPandas keep-first parity
    (utilities.py:268-269)."""
    rid_out = np.full(len(lat), None, dtype=object)
    pt, slot = index.lookup(cell_of(lat, lon, res))
    if len(pt) == 0:
        return rid_out
    inside = index.cand_interior[slot].copy()
    bnd = np.flatnonzero(~inside)
    inside[bnd] = _ray_cast(index, lon[pt[bnd]], lat[pt[bnd]],
                            index.cand_rid[slot[bnd]])
    hit = np.flatnonzero(inside)
    if hit.size == 0:
        return rid_out
    hp = pt[hit]
    hs = index.cand_seq[slot[hit]]
    o = np.lexsort((hs, hp))
    keep = np.r_[True, hp[o][1:] != hp[o][:-1]]
    sel = hit[o[keep]]
    rid_out[pt[sel]] = index.rids[index.cand_rid[slot[sel]]]
    return rid_out


def _knn_fallback(miss_pos: np.ndarray, px: np.ndarray, py: np.ndarray,
                  index: _CoverIndex, res: int, max_distance: float,
                  metric: bool = False):
    """Ring-expansion bounded nearest-region (sjoin_nearest semantics,
    utilities.py:270-284) -> ``(pos, region_id, dist)`` arrays for the
    points of ``miss_pos`` that have a region within ``max_distance``.

    Distance unit: degrees (prep space) when ``metric=False``, METRES when
    ``metric=True`` (local equirectangular scaling — the reference's
    ``max_distance`` is in the regions' CRS units, which is metres for every
    BNG-sourced dataset, utilities.py:253-255).

    Each round k expands every unresolved point's ring of neighbour cells
    at once and probes the cover index (``lookup``), whose candidates
    within a cell keep cover-row order. The round's distinct
    (point, region) pairs not scored in an earlier round (a re-score can
    never win: updates need a strictly smaller distance) are scored in one
    pass over the index's edge table, each pair only against the edges
    within ``min(max_distance, the point's best so far)`` of it. Then each
    point takes its nearest pair, equal distances going to the region that
    first appears among all the round's pairs (rank), and keeps it if
    strictly nearer than its best: the choice a visit of the regions in
    rank order, updating on strictly smaller distances, makes. A point is
    final once its best distance is provably inside the already-searched
    radius (no closer region can appear in a later ring)."""
    n = np.int64(1) << res
    out_rid = np.full(len(miss_pos), -1, np.int64)
    out_dist = np.full(len(miss_pos), np.inf)
    _, ci, cj = cell_to_ij(cell_of(py, px, res))
    unresolved = np.arange(len(miss_pos))
    # conservative per-ring guarantee radius uses the SMALLER (lat) step
    cell_deg = 180.0 / float(n)
    if metric:
        # metres per searched degree: the lon step shrinks by cos(lat), so
        # the conservative per-point ring guarantee must scale by
        # min(1, 2*cos) — cells are 2x wider in lon-degrees than lat-degrees
        cos_pt = np.maximum(np.cos(np.radians(py)), 1e-3)
        ring_scale = METERS_PER_DEG * np.minimum(1.0, 2.0 * cos_pt)
    else:
        ring_scale = np.ones(len(miss_pos))
    # enough rings that safe_radius(max_k) >= max_distance for the slowest
    # point: a region inside the bound can never be missed by early
    # exhaustion (sjoin_nearest(max_distance) parity)
    worst = float(ring_scale.min()) if len(miss_pos) else 1.0
    max_k = int(np.ceil(2.0 * max_distance / (cell_deg * worst) + 0.5)) + 1
    max_k = min(max(max_k, 1), 4096)
    n_rids = max(len(index.rids), 1)
    seen = np.empty(0, np.int64)   # sorted keys of the pairs scored so far
    for k in range(1, max_k + 1):
        if len(unresolved) == 0 or len(index.cells) == 0:
            break
        # probe only the NEW cells of round k: the full 3x3 disc on the
        # first round, the 8k-cell perimeter ring afterwards. Best distances
        # persist across rounds, so interior cells never need re-probing —
        # cumulative work is O(k^2) per point instead of O(k^3)
        if k == 1:
            di = np.arange(-1, 2)
            dij = np.stack(np.meshgrid(di, di, indexing="ij"), -1).reshape(-1, 2)
        else:
            side = np.arange(-k, k + 1)
            dij = np.concatenate([
                np.stack([np.full(2 * k + 1, -k), side], 1),
                np.stack([np.full(2 * k + 1, k), side], 1),
                np.stack([side[1:-1], np.full(2 * k - 1, -k)], 1),
                np.stack([side[1:-1], np.full(2 * k - 1, k)], 1),
            ])
        ii = (ci[unresolved, None] + dij[None, :, 0]) % n
        jj = np.clip(cj[unresolved, None] + dij[None, :, 1], 0, n - 1)
        pt, slot = index.lookup(cell_from_ij(ii.ravel(), jj.ravel(), res))
        if pt.size:
            prid = index.cand_rid[slot]
            # visit order: regions ranked by first appearance in the round
            urf, rfirst = np.unique(prid, return_index=True)
            rank = np.empty(n_rids, np.int64)
            rank[urf[np.argsort(rfirst)]] = np.arange(len(urf))
            key = np.unique(unresolved[pt // len(dij)] * n_rids + prid)
            if seen.size:
                at = np.searchsorted(seen, key)
                np.minimum(at, seen.size - 1, out=at)
                key = key[seen[at] != key]
            seen = np.sort(np.concatenate([seen, key]))
            pu, prid = np.divmod(key, n_rids)
            d = dist_to_polygons_pairs(
                px[pu], py[pu], prid, np.minimum(max_distance, out_dist[pu]),
                index.edge_table(), metric)
            # nearest pair per point (pu is ascending), ties to lower rank
            o = np.lexsort((rank[prid], d, pu))
            o = o[np.diff(pu[o], prepend=-1) != 0]
            o = o[d[o] < out_dist[pu[o]]]
            out_dist[pu[o]] = d[o]
            out_rid[pu[o]] = prid[o]
        safe_radius = (k - 0.5) * cell_deg * 0.5 * ring_scale[unresolved]
        done = (out_dist[unresolved]
                <= np.minimum(max_distance, safe_radius))
        unresolved = unresolved[~done]
    valid = out_dist <= max_distance
    return miss_pos[valid], index.rids[out_rid[valid]], out_dist[valid]


def _broadcast_index(sc, prep: PreparedRegions):
    """The broadcast ``_CoverIndex`` of ``prep``, made once per context and
    held on the prep."""
    held = prep._bcast
    if held is None or held[0] is not sc:
        held = prep._bcast = (sc, sc.broadcast(
            _CoverIndex(prep.cover, prep.geoms)))
    return held[1]


def _spec(sc, prep: PreparedRegions, out_col: str,
          max_distance: float | None, distance_unit: str | None,
          dist_col: str | None = None) -> tuple:
    """One fused-loop lookup: ``(b_index, res, out_col, max_distance,
    metric, dist_col)``. The unit defaults to the regions' source CRS units
    (utilities.py:253-255)."""
    if distance_unit is None:
        distance_unit = "m" if prep.crs == "EPSG:27700" else "deg"
    if distance_unit not in ("m", "deg"):
        raise ValueError("distance_unit must be 'm' or 'deg'")
    return (_broadcast_index(sc, prep), prep.res, out_col, max_distance,
            distance_unit == "m", dist_col)


def _fused(points: DataFrame, specs: list, lat_col: str, lon_col: str,
           output_cols: list[str] | None, keep_cell: bool) -> DataFrame:
    """The fused batch loop: every spec's lookup in ONE
    :func:`~geocode_spark.functions.udfs.arrow_map` pass, coordinates
    decoded once per batch. Adds, after the kept input columns (all, or
    those in ``output_cols``): every ``out_col``, ``cell_id`` (first spec's
    resolution) when ``keep_cell``, every ``dist_col``.
    """
    new_fields = [StructField(s[2], StringType()) for s in specs]
    if keep_cell:
        new_fields.append(StructField("cell_id", LongType()))
    new_fields += [StructField(s[5], DoubleType())
                   for s in specs if s[5] is not None]
    cell_res = specs[0][1]

    def body(rb):
        # NULL -> NaN, so the finite test covers both
        lat_all = rb.column(lat_col).cast(pa.float64()).to_numpy(
            zero_copy_only=False)
        lon_all = rb.column(lon_col).cast(pa.float64()).to_numpy(
            zero_copy_only=False)
        finite = np.isfinite(lat_all) & np.isfinite(lon_all)
        vpos = np.flatnonzero(finite)
        cols, dist_cols = [], []
        for b_index, res, _, max_d, metric, dist_col in specs:
            index = b_index.value
            rid = np.full(rb.num_rows, None, dtype=object)
            if vpos.size:
                rid[vpos] = _assign_batch(index, lat_all[vpos],
                                          lon_all[vpos], res)
            kdist = np.full(rb.num_rows, np.nan)
            if max_d is not None:
                miss = np.flatnonzero(pd.isna(rid) & finite)
                if len(miss):
                    npos, nrid, ndist = _knn_fallback(
                        miss, lon_all[miss], lat_all[miss],
                        index, res, max_d, metric=metric)
                    rid[npos] = nrid
                    kdist[npos] = ndist
            cols.append(rid)
            if dist_col is not None:
                dist_cols.append(pa.array(kdist, mask=np.isnan(kdist)))
        if keep_cell:
            cid = np.zeros(rb.num_rows, np.int64)
            cid[finite] = cell_of(lat_all[finite], lon_all[finite], cell_res)
            cols.append(pa.array(cid, mask=~finite))
        return None, cols + dist_cols

    return arrow_map(points, body, new_fields, keep=output_cols)


def reverse_geocode(
    points: DataFrame,
    prep: PreparedRegions,
    lat_col: str = "latitude",
    lon_col: str = "longitude",
    out_col: str = "region_id",
    max_distance: float | None = None,
    distance_unit: str | None = None,
    strategy: str = "fused",
    keep_cell: bool = False,
    keep_distance: bool = False,
    output_cols: list[str] | None = None,
    salt_partitions: int | None = None,
) -> DataFrame:
    """Assign each point row the containing region's id (NULL if none).

    All input columns pass through (or only ``output_cols`` when given —
    trims the Arrow return path, which matters when the caller only needs
    the assignment); adds ``out_col`` (and ``cell_id`` when ``keep_cell``,
    ``knn_dist`` when ``keep_distance`` — NULL for direct PIP hits).
    Equivalent of utilities.reverse_geocode + the dataset adapters' rename
    (ons_nrs.py:384, neso.py:298, eurostat.py:151). The fused strategy is
    the one-spec case of :func:`reverse_geocode_multi`.

    ``max_distance`` unit follows the reference's contract — the REGIONS'
    source CRS units (utilities.py:253-255): metres when the prepared set
    was built from EPSG:27700 data, degrees for native-WGS84 data. Override
    with ``distance_unit`` = "m" | "deg" (e.g. metre bounds against a
    WGS84-sourced region set). Metre distances use a local equirectangular
    scaling (geometry.dist_to_polygon_m).

    ``salt_partitions``: pre-repartition the points on a salted hash — use
    when the upstream partitioning is spatially clustered (e.g. a crawl
    sharded by site puts all of London in a few partitions). The fused path
    has no shuffle of its own, so skew only enters through input layout;
    salting rebalances it at the cost of one explicit shuffle.
    """
    spec = _spec(points.sparkSession.sparkContext, prep, out_col,
                 max_distance, distance_unit,
                 "knn_dist" if keep_distance else None)

    if salt_partitions:
        # deterministic salt key only: a nondeterministic component (e.g.
        # monotonically_increasing_id) would re-route rows differently when
        # a stage is recomputed after shuffle-fetch failure, duplicating or
        # dropping rows (the SPARK-23207 failure class). Repartition
        # directly on the coordinate columns: HashPartitioning applies its
        # own Murmur3 over the full values, which spreads clustered
        # coordinates evenly — pre-folding with pmod(hash, n) would leave
        # only n distinct keys for that hash and birthday-collide buckets.
        points = points.repartition(salt_partitions,
                                    F.col(lat_col), F.col(lon_col))

    if strategy == "fused":
        return _fused(points, [spec], lat_col, lon_col, output_cols,
                      keep_cell)

    if strategy == "join":
        if max_distance is not None or output_cols is not None or keep_distance:
            raise ValueError(
                "strategy='join' does not support max_distance/output_cols/"
                "keep_distance yet — use the default fused strategy (silently "
                "ignoring them would change assignments between strategies)")
        return _reverse_geocode_join(points, prep, lat_col, lon_col, out_col,
                                     keep_cell)
    raise ValueError(f"unknown strategy {strategy!r}")


def reverse_geocode_multi(
    points: DataFrame,
    assignments: list,
    lat_col: str = "latitude",
    lon_col: str = "longitude",
    output_cols: list[str] | None = None,
    keep_cell: bool = False,
) -> DataFrame:
    """Assign each point a region id from EVERY prepared set in ONE Arrow
    pass. ``assignments`` is a list of ``(prep, out_col)`` or
    ``(prep, out_col, opts)`` with opts keys ``max_distance`` /
    ``distance_unit`` (same semantics as :func:`reverse_geocode`); any
    other key is rejected on the driver.

    One mapInArrow stage decodes each batch's coordinates once and runs
    every lookup on them (_assign_batch / _knn_fallback over each set's
    _CoverIndex), where chained reverse_geocode calls would be k Python
    stages, the points crossing the JVM/Python boundary k times. It is the
    same batch loop a single-set reverse_geocode runs, so assignments match
    the chained form exactly.

    ``keep_cell`` adds one ``cell_id`` column at the FIRST assignment's
    resolution (the chained equivalent of keep_cell on the first call)."""
    if not assignments:
        # fail on the driver, not inside an executor task (keep_cell=True
        # would otherwise call cell_of(..., res=None) at run time)
        raise ValueError("assignments must name at least one prepared set")
    sc = points.sparkSession.sparkContext
    specs = []
    for a in assignments:
        prep, out_col = a[0], a[1]
        opts = a[2] if len(a) > 2 else {}
        unknown = sorted(set(opts) - {"max_distance", "distance_unit"})
        if unknown:
            # a misspelt key would otherwise silently drop the fallback
            raise ValueError(f"unknown option(s) {unknown} for {out_col!r}: "
                             "expected max_distance / distance_unit")
        specs.append(_spec(sc, prep, out_col, opts.get("max_distance"),
                           opts.get("distance_unit")))
    return _fused(points, specs, lat_col, lon_col, output_cols, keep_cell)


def _reverse_geocode_join(points, prep, lat_col, lon_col, out_col, keep_cell):
    """Catalyst-visible variant: BroadcastHashJoin on cell, PIP on candidates,
    min(region_seq) aggregation per input row."""
    spark = points.sparkSession
    sc = spark.sparkContext
    b_index = _broadcast_index(sc, prep)

    cover_df = spark.createDataFrame(prep.cover)
    # Deterministic per-row key: xxhash64 of the hashable columns under two
    # seeds (128-bit composite). monotonically_increasing_id here would be
    # the SPARK-23207 failure class — a stage recompute after shuffle-fetch
    # failure could renumber rows, duplicating/dropping assignments when the
    # uncached pts subtree is evaluated independently on both join branches.
    # Rows that share a key are safe BECAUSE lat/lon are always hashed:
    # key-colliding rows have identical coordinates, hence the identical
    # (single) aggregated assignment from the groupBy below. Columns of
    # types xxhash64 cannot digest (MapType) are skipped — they never
    # affect the assignment.
    def _has_map(dt) -> bool:
        from pyspark.sql.types import ArrayType, MapType, StructType

        if isinstance(dt, MapType):
            return True
        if isinstance(dt, ArrayType):
            return _has_map(dt.elementType)
        if isinstance(dt, StructType):
            return any(_has_map(f.dataType) for f in dt.fields)
        return False

    # Spark hash functions SKIP null arguments (no null marker is mixed in),
    # so two distinct rows could share a key when a NULL shifts identical
    # hash-input values across adjacent columns. Interleave a never-null
    # isnull flag before each column: each column contributes either
    # [1] (null) or [0, value] — a prefix-free token stream, so null
    # placement always changes the digest.
    in_cols = [part
               for f in points.schema.fields if not _has_map(f.dataType)
               for part in (F.isnull(f.name).cast("int"), F.col(f.name))]
    pts = (points
           .withColumn("__rg_row", F.xxhash64(*in_cols))
           .withColumn("__rg_row2", F.xxhash64(F.lit(1), *in_cols)))
    pts = pts.withColumn("cell_id",
                         cell_udf(prep.res)(F.col(lat_col), F.col(lon_col)))
    cand = pts.join(F.broadcast(cover_df),
                    pts["cell_id"] == cover_df["cell"], "left")

    def pip(rb):
        index = b_index.value
        rids = pa.array(index.rids, pa.string())
        # no candidate (left join miss): NULL region_id and interior
        keep = pc.fill_null(rb.column("interior"), False).to_numpy(
            zero_copy_only=False, writable=True)
        code = pc.fill_null(pc.index_in(rb.column("region_id"),
                                        value_set=rids), -1).to_numpy()
        bnd = np.flatnonzero(~keep & (code >= 0))
        px = rb.column(lon_col).cast(pa.float64()).to_numpy(
            zero_copy_only=False)
        py = rb.column(lat_col).cast(pa.float64()).to_numpy(
            zero_copy_only=False)
        keep[bnd] = _ray_cast(index, px[bnd], py[bnd], code[bnd])
        return np.flatnonzero(keep), []

    cand = cand.select("__rg_row", "__rg_row2", lat_col, lon_col,
                       "region_id", "region_seq", "interior")
    assignments = (
        arrow_map(cand, pip, [], keep=["__rg_row", "__rg_row2", "region_id",
                                       "region_seq"])
        .groupBy("__rg_row", "__rg_row2")
        .agg(F.min_by("region_id", "region_seq").alias(out_col))
    )
    out = pts.join(assignments, ["__rg_row", "__rg_row2"], "left")
    drop = ["__rg_row", "__rg_row2"] + ([] if keep_cell else ["cell_id"])
    return out.drop(*drop)
