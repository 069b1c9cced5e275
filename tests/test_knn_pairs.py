"""Bounded-nearest fallback: the one-pass pair scoring must reproduce the
region-by-region scoring it replaced, bit for bit.

``_reference_knn`` below is a frozen copy of that earlier ``_knn_fallback``:
the same ring expansion and stopping rule, but every (point, region) pair of
every round scored again with the per-polygon distance kernel over all of
the region's edges, visiting regions in first-appearance order and updating
on a strictly smaller distance.
"""

import functools

import numpy as np
import pandas as pd
import pytest

from geocode_spark import geometry
from geocode_spark.cells import cell_bounds, cell_from_ij, cell_of, cell_to_ij
from geocode_spark.geometry import (METERS_PER_DEG, EdgeTable, PreparedPolygon,
                                    _dist_kernel_prepared,
                                    dist_to_polygon_m_prepared,
                                    dist_to_polygon_prepared,
                                    dist_to_polygons_pairs)
from geocode_spark.operators import reverse_geocode as rg
from geocode_spark.regions import load_prepared, prepare_regions


def _knn_table(index):
    """The (cell -> region) table the reference probes: the cover
    deduplicated on (cell, region), sorted by cell, cover-row order kept
    within each cell."""
    if index.cover is None or len(index.cover) == 0:
        z = np.empty(0, np.int64)
        return z, np.zeros(1, np.int64), z
    small = index.cover[["cell", "region_id"]].drop_duplicates()
    kcells = small["cell"].to_numpy(np.int64)
    krid = small["region_id"].map(index.code).to_numpy(np.int64)
    order = np.argsort(kcells, kind="stable")
    sc = kcells[order]
    first = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
    return sc[first], np.r_[first, len(sc)].astype(np.int64), krid[order]


def _reference_knn(miss_pos, px, py, index, res, max_distance, metric=False):
    n = np.int64(1) << res
    out_rid = np.full(len(miss_pos), None, dtype=object)
    out_dist = np.full(len(miss_pos), np.inf)
    _, ci, cj = cell_to_ij(cell_of(py, px, res))
    unresolved = np.arange(len(miss_pos))
    cell_deg = 180.0 / float(n)
    if metric:
        cos_pt = np.maximum(np.cos(np.radians(py)), 1e-3)
        ring_scale = METERS_PER_DEG * np.minimum(1.0, 2.0 * cos_pt)
    else:
        ring_scale = np.ones(len(miss_pos))
    worst = float(ring_scale.min()) if len(miss_pos) else 1.0
    max_k = int(np.ceil(2.0 * max_distance / (cell_deg * worst) + 0.5)) + 1
    max_k = min(max(max_k, 1), 4096)
    kcells, kstarts, krid = _knn_table(index)
    n_rids = max(len(index.rids), 1)
    dist_fn = dist_to_polygon_m_prepared if metric else dist_to_polygon_prepared
    for k in range(1, max_k + 1):
        if len(unresolved) == 0:
            break
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
        u_rep = np.broadcast_to(unresolved[:, None], ii.shape).ravel()
        ring_cells = cell_from_ij(ii.ravel(), jj.ravel(), res)
        if len(kcells) == 0:
            break
        loc = np.searchsorted(kcells, ring_cells)
        np.minimum(loc, len(kcells) - 1, out=loc)
        h = np.flatnonzero(kcells[loc] == ring_cells)
        if h.size:
            s = kstarts[loc[h]]
            cnt = kstarts[loc[h] + 1] - s
            tot = int(cnt.sum())
            kslot = np.repeat(s - np.r_[np.int64(0), np.cumsum(cnt)[:-1]],
                              cnt) + np.arange(tot, dtype=np.int64)
            pu = np.repeat(u_rep[h], cnt)
            prid = krid[kslot]
            key = pu * n_rids + prid
            _, fidx = np.unique(key, return_index=True)
            fidx.sort()
            pu = pu[fidx]
            prid = prid[fidx]
            urf, rfirst = np.unique(prid, return_index=True)
            rank = np.empty(n_rids, np.int64)
            rank[urf[np.argsort(rfirst)]] = np.arange(len(urf))
            order = np.argsort(rank[prid], kind="stable")
            ps = prid[order]
            gb = np.flatnonzero(np.r_[True, ps[1:] != ps[:-1]])
            ge = np.r_[gb[1:], len(ps)]
            for g0, g1 in zip(gb, ge):
                rows = order[g0:g1]
                r = int(ps[g0])
                uu = pu[rows]
                d = dist_fn(px[uu], py[uu], index.prepared(r))
                better = d < out_dist[uu]
                upd = uu[better]
                out_dist[upd] = d[better]
                out_rid[upd] = index.rids[r]
        safe_radius = (k - 0.5) * cell_deg * 0.5 * ring_scale[unresolved]
        done = (out_dist[unresolved]
                <= np.minimum(max_distance, safe_radius))
        unresolved = unresolved[~done]
    valid = out_dist <= max_distance
    return miss_pos[valid], out_rid[valid], out_dist[valid]


def _misses(index, lat, lon, res):
    rid = rg._assign_batch(index, lat, lon, res)
    return np.flatnonzero(pd.isna(rid))


def _both(index, lat, lon, res, max_distance, metric):
    miss = _misses(index, lat, lon, res)
    args = (miss, lon[miss], lat[miss], index, res, max_distance)
    return (rg._knn_fallback(*args, metric=metric),
            _reference_knn(*args, metric=metric))


def _assert_same(got, want):
    pos, rid, dist = got
    assert np.array_equal(pos, want[0])
    assert list(rid) == list(want[1])
    assert np.array_equal(dist, want[2])           # bit-identical floats


def _rect(rid, x0, x1, y0, y1):
    return {"region_id": rid,
            "rings": [[(x0, y0), (x1, y0), (x1, y1), (x0, y1)]]}


@pytest.fixture(scope="module")
def complex_set(fixture_dir):
    """The 64-region x 400-vertex set with points drawn uniformly in its
    boundary cover cells (about half of them miss every region)."""
    prep = load_prepared("complex", fixture_dir / "prepared")
    cover = prep.cover
    cells = np.unique(cover.loc[~cover["interior"], "cell"].to_numpy())
    rng = np.random.default_rng(7)
    x0, y0, x1, y1 = cell_bounds(cells[rng.integers(0, len(cells), 6000)])
    lat = y0 + rng.random(6000) * (y1 - y0)
    lon = x0 + rng.random(6000) * (x1 - x0)
    return prep, rg._CoverIndex(prep.cover, prep.geoms), lat, lon


class TestMatchesRegionByRegion:
    @pytest.mark.parametrize("max_distance,metric", [
        (5000.0, True), (20000.0, True), (0.05, False)])
    def test_cover_drawn_points(self, complex_set, max_distance, metric):
        prep, index, lat, lon = complex_set
        got, want = _both(index, lat, lon, prep.res, max_distance, metric)
        assert len(want[0]) > 1000
        _assert_same(got, want)

    def test_equidistant_regions_first_in_visit_order_wins(self):
        # At res 10 (cells 0.17578125 deg tall) the row centre y = yc lies
        # exactly 0.28125 deg from A's top edge and from B's bottom edge,
        # both two rows away: points there meet A and B in ring round 2,
        # and A comes first in their own ring order. P0, north of B, meets
        # B in round 1 and, still unresolved, again in round 2. The round's
        # visit order ranks regions over ALL its pairs, P0's repeat
        # included: with P0 first, B ranks first and wins the ties.
        yc = 1.318359375
        recs = [_rect("A", 0.0, 1.0, 0.0, yc - 0.28125),
                _rect("B", 0.0, 1.0, yc + 0.28125, 2.6)]
        lat = np.array([2.7, yc, yc, yc])
        lon = np.array([0.5, 0.5, 0.25, 0.75])
        for records in (recs, recs[::-1]):
            prep = prepare_regions(records, "tie", res=10)
            index = rg._CoverIndex(prep.cover, prep.geoms)
            for order, winners in (([0, 1, 2, 3], "BBBB"),
                                   ([1, 2, 3, 0], "AAAB")):
                got, want = _both(index, lat[order], lon[order], prep.res,
                                  1.0, False)
                assert "".join(want[1]) == winners
                dist = dict(zip(order, want[2]))
                assert dist[1] == dist[2] == dist[3] == 0.28125   # exact tie
                _assert_same(got, want)

    def test_degenerate_ring_region(self):
        # "D" covers A's cells but its only ring collapses to two vertices:
        # no edges at all (nb == 0), so it is scored and never wins
        prep = prepare_regions([_rect("A", 0.0, 1.0, 0.0, 1.0),
                                _rect("B", 2.0, 3.0, 0.0, 1.0)], "degen")
        extra = prep.cover[prep.cover["region_id"] == "A"].assign(
            region_id="D", region_seq=2, interior=False)
        cover = pd.concat([extra, prep.cover], ignore_index=True)
        geoms = {**prep.geoms, "D": (np.array([0.5, 0.6, 0.5]),
                                     np.array([0.5, 0.5, 0.5]),
                                     np.array([0, 3]), (0.5, 0.5, 0.6, 0.5))}
        index = rg._CoverIndex(cover, geoms)
        assert index.prepared(list(index.rids).index("D")).nb == 0
        rng = np.random.default_rng(3)
        lat = rng.uniform(-0.5, 1.5, 400)
        lon = rng.uniform(-0.5, 3.5, 400)
        got, want = _both(index, lat, lon, prep.res, 0.4, False)
        assert len(want[0]) > 0 and "D" not in set(want[1])
        _assert_same(got, want)

    def test_duplicate_cover_rows(self):
        # a (cell, region) row repeated in the cover: the probe sees it
        # twice, the reference's table once; the results must not differ
        prep = prepare_regions([_rect("A", 0.0, 1.0, 0.0, 1.0),
                                _rect("B", 2.0, 3.0, 0.0, 1.0)], "dup")
        cover = pd.concat([prep.cover, prep.cover.iloc[::3]],
                          ignore_index=True)
        index = rg._CoverIndex(cover, prep.geoms)
        assert len(index.cand_rid) > len(_knn_table(index)[2])
        rng = np.random.default_rng(5)
        lat = rng.uniform(-0.5, 1.5, 400)
        lon = rng.uniform(-0.5, 3.5, 400)
        got, want = _both(index, lat, lon, prep.res, 0.4, False)
        assert len(want[0]) > 0
        _assert_same(got, want)

    def test_empty_cover_and_unreachable_bound(self, complex_set):
        empty = rg._CoverIndex(pd.DataFrame(
            {"cell": np.empty(0, np.int64), "region_id": [],
             "region_seq": np.empty(0, np.int64),
             "interior": np.empty(0, bool)}), {})
        lat = np.array([51.0, 52.0])
        lon = np.array([-1.0, 0.5])
        got, want = _both(empty, lat, lon, 13, 5000.0, True)
        assert len(got[0]) == 0
        _assert_same(got, want)

        prep, index, lat, lon = complex_set
        got, want = _both(index, lat, lon, prep.res, 1e-9, True)
        assert len(got[0]) == 0
        _assert_same(got, want)

    def test_chunked_pass_equals_unchunked(self, complex_set, monkeypatch):
        prep, index, lat, lon = complex_set
        whole = _both(index, lat, lon, prep.res, 20000.0, True)[0]
        calls = []
        real = geometry._pairs_chunk

        def counted(*a):
            calls.append(len(a[0]))
            return real(*a)

        monkeypatch.setattr(geometry, "_pairs_chunk", counted)
        chunks = {}
        for cap in (64, 5000):
            calls.clear()
            monkeypatch.setattr(rg, "dist_to_polygons_pairs", functools.partial(
                dist_to_polygons_pairs, chunk=cap))
            _assert_same(_both(index, lat, lon, prep.res, 20000.0, True)[0],
                         whole)
            chunks[cap] = len(calls)
        # the cap split every round's pass, the smaller cap into more chunks
        assert chunks[64] > chunks[5000] > 10


@pytest.mark.parametrize("metric", [True, False])
def test_pair_kernel_contract(complex_set, metric):
    """Within reach: exactly the per-polygon kernel's value; beyond it: a
    value above reach (or inf)."""
    prep, index, lat, lon = complex_set
    polys = [index.prepared(r) for r in range(len(index.rids))]
    et = EdgeTable(polys)
    rng = np.random.default_rng(5)
    poly = rng.integers(0, len(polys), lat.size)
    scale = METERS_PER_DEG if metric else 1.0
    reach = rng.uniform(0.0, 0.3, lat.size) * scale
    got = dist_to_polygons_pairs(lon, lat, poly, reach, et, metric)
    want = np.empty(lat.size)
    for p in np.unique(poly):
        m = poly == p
        want[m] = _dist_kernel_prepared(lon[m], lat[m], polys[p], 2048, metric)
    near = want <= reach
    assert near.sum() > 100 and (~near).sum() > 100
    assert np.array_equal(got[near], want[near])
    assert np.all(got[~near] > reach[~near])


def test_edge_table_layout():
    polys = [PreparedPolygon([0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0],
                             [0, 4]),
             PreparedPolygon([0.0, 1.0, 0.0], [0.0, 0.0, 0.0], [0, 3]),
             PreparedPolygon([2.0, 3.0, 3.0, 2.0], [0.0, 0.0, 2.0, 2.0],
                             [0, 4])]
    et = EdgeTable(polys)
    assert list(et.nb) == [1, 0, 1] and list(et.ne) == [4, 0, 4]
    for p in (0, 2):
        pp = polys[p]
        b = et.boffs[et.bbase[p]:et.bbase[p] + pp.nb + 1]
        assert np.array_equal(et.x1[b[0]:b[-1]], pp.bx1)
        assert np.array_equal(et.y2[et.ebase[p]:et.ebase[p] + pp.x1.size],
                              pp.y2)
    empty = EdgeTable([])
    assert empty.x1.size == 0 and empty.boffs.size == 0
