"""Numpy kernel tests: CRS transform, cell index, PIP/distance geometry."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geocode_spark.cells import (cell_bounds, cell_from_ij, cell_of,
                                 cell_to_ij, covering_cells, kring,
                                 pick_resolution)
from geocode_spark.crs import bng_to_latlon, latlon_to_bng, _en_to_osgb36
from geocode_spark.geometry import (dist_to_polygon, points_in_polygon,
                                    polygon_bbox)


class TestCRS:
    def test_roundtrip(self):
        rng = np.random.default_rng(0)
        lats = rng.uniform(49.8, 60.8, 1000)
        lons = rng.uniform(-8.0, 1.8, 1000)
        e, n = latlon_to_bng(lats, lons)
        lat2, lon2 = bng_to_latlon(e, n)
        assert np.abs(lat2 - lats).max() < 1e-7
        assert np.abs(lon2 - lons).max() < 1e-7

    def test_os_worked_example_projection(self):
        # OS guide: E 651409.903 N 313177.270 <-> OSGB36 52d39'27.2531" N,
        # 1d43'4.5177" E (pure TM projection, no datum shift)
        la, lo = _en_to_osgb36(np.array([651409.903]), np.array([313177.270]))
        assert abs(np.rad2deg(la)[0] - (52 + 39 / 60 + 27.2531 / 3600)) < 1e-7
        assert abs(np.rad2deg(lo)[0] - (1 + 43 / 60 + 4.5177 / 3600)) < 1e-7

    def test_os_worked_example_datum(self):
        # same point in ETRS89/WGS84 (via OSTN): Helmert must be within ~5 m
        lat = 52 + 39 / 60 + 28.8282 / 3600
        lon = 1 + 42 / 60 + 57.7867 / 3600
        e, n = latlon_to_bng(np.array([lat]), np.array([lon]))
        assert abs(e[0] - 651409.903) < 5.0
        assert abs(n[0] - 313177.270) < 5.0

    def test_nan_propagates(self):
        lat, lon = bng_to_latlon(np.array([np.nan]), np.array([100000.0]))
        assert np.isnan(lat[0]) and np.isnan(lon[0])


class TestCells:
    @given(st.floats(-89.9, 89.9), st.floats(-179.9, 179.9),
           st.integers(1, 26))
    @settings(max_examples=200, deadline=None)
    def test_point_in_own_cell(self, lat, lon, res):
        # assignment is deterministic up to 1 ulp of the grid mapping: allow
        # epsilon slack of a few ulps of the cell width at the boundaries
        c = cell_of(np.array([lat]), np.array([lon]), res)
        lon0, lat0, lon1, lat1 = cell_bounds(c)
        eps = 360.0 * 2.0 ** -52 * 4
        assert lon0[0] - eps <= lon <= lon1[0] + eps
        assert lat0[0] - eps <= lat <= lat1[0] + eps

    def test_res_separation(self):
        lat = np.array([50.0])
        lon = np.array([0.5])
        assert cell_of(lat, lon, 10)[0] != cell_of(lat, lon, 11)[0]

    def test_ij_roundtrip(self):
        rng = np.random.default_rng(1)
        i = rng.integers(0, 2**20, 500)
        j = rng.integers(0, 2**20, 500)
        res, i2, j2 = cell_to_ij(cell_from_ij(i, j, 20))
        assert (res == 20).all() and (i2 == i).all() and (j2 == j).all()

    def test_kring(self):
        c = int(cell_of(np.array([53.0]), np.array([-2.0]), 15)[0])
        assert len(kring(c, 0)) == 1
        assert len(kring(c, 1)) == 9

    def test_covering_complete(self):
        xs = np.array([-2.1, -2.0, -2.0, -2.1])
        ys = np.array([53.3, 53.3, 53.4, 53.4])
        res = pick_resolution(0.1, 0.1)
        cells, interior = covering_cells(xs, ys, np.array([0, 4]), res)
        rng = np.random.default_rng(2)
        plat = rng.uniform(53.3001, 53.3999, 3000)
        plon = rng.uniform(-2.0999, -2.0001, 3000)
        assert np.isin(cell_of(plat, plon, res), cells).all()
        # interior cells contain only truly-inside points
        int_cells = cells[interior]
        olat = rng.uniform(53.2, 53.2999, 1000)
        olon = rng.uniform(-2.0999, -2.0001, 1000)
        assert not np.isin(cell_of(olat, olon, res), int_cells).any()


SQUARE_X = np.array([0.0, 10.0, 10.0, 0.0, 2.0, 8.0, 8.0, 2.0])
SQUARE_Y = np.array([0.0, 0.0, 10.0, 10.0, 2.0, 2.0, 8.0, 8.0])
OFFS = np.array([0, 4, 8])  # outer square + hole


class TestGeometry:
    def test_pip_with_hole(self):
        px = np.array([1.0, 5.0, 9.0, 11.0, 5.0])
        py = np.array([1.0, 5.0, 9.0, 0.5, 2.0001])
        assert list(points_in_polygon(px, py, SQUARE_X, SQUARE_Y, OFFS)) == [
            True, False, True, False, False]

    def test_pip_closed_ring_equivalent(self):
        xs = np.array([0.0, 10.0, 10.0, 0.0, 0.0])
        ys = np.array([0.0, 0.0, 10.0, 10.0, 0.0])
        r = points_in_polygon(np.array([5.0]), np.array([5.0]), xs, ys,
                              np.array([0, 5]))
        assert r[0]

    def test_dist(self):
        d = dist_to_polygon(np.array([11.0, 5.0, 1.0]),
                            np.array([0.0, 5.0, 1.0]),
                            SQUARE_X, SQUARE_Y, OFFS)
        assert d[0] == pytest.approx(1.0)
        assert d[1] == pytest.approx(3.0)   # inside the hole -> dist to hole edge
        assert d[2] == 0.0                  # inside polygon -> 0

    @given(st.floats(-20, 20), st.floats(-20, 20))
    @settings(max_examples=200, deadline=None)
    def test_pip_matches_bbox_for_convex_square(self, x, y):
        xs = np.array([0.0, 10.0, 10.0, 0.0])
        ys = np.array([0.0, 0.0, 10.0, 10.0])
        inside = points_in_polygon(np.array([x]), np.array([y]), xs, ys,
                                   np.array([0, 4]))[0]
        expected = (0 < x < 10) and (0 < y < 10)
        if min(abs(x), abs(x - 10), abs(y), abs(y - 10)) > 1e-9:
            assert inside == expected

    def test_bbox(self):
        assert polygon_bbox(SQUARE_X, SQUARE_Y) == (0.0, 0.0, 10.0, 10.0)
