"""Raster<->vector tiling operators (operators/raster.py).

Covers: distributed vector->raster vs the driver-side kernel, the
span dissolve's exactness (hand case + algebraic roundtrip), the zonal
combine, and the independent-transcription golden the driver oracle
uses."""

import numpy as np
import pandas as pd
import pytest

from geocode_spark.cells import cell_to_ij, covering_cells
from geocode_spark.operators.raster import (raster_to_spans,
                                            rasterize_regions,
                                            spans_to_raster, zonal_stats)
from geocode_spark.sources.fixtures import (build_raster_golden,
                                            complex_region_records)

RES = 13


def _square_df(spark):
    # one square region: lon 0.01..0.09, lat 50.01..50.09
    xs = [0.01, 0.09, 0.09, 0.01]
    ys = [50.01, 50.01, 50.09, 50.09]
    return spark.createDataFrame(
        pd.DataFrame({"region_id": ["SQ1"], "xs": [xs], "ys": [ys],
                      "ring_offsets": [[0, 4]]}))


class TestRasterizeRegions:
    def test_matches_driver_kernel(self, spark):
        out = rasterize_regions(_square_df(spark), RES).toPandas()
        cells, interior = covering_cells(
            np.array([0.01, 0.09, 0.09, 0.01]),
            np.array([50.01, 50.01, 50.09, 50.09]),
            np.array([0, 4]), RES)
        want = {(int(c), bool(i)) for c, i in zip(cells, interior)}
        got = {(int(c), bool(i))
               for c, i in zip(out.cell_id, out.interior)}
        assert got == want and len(out) == len(cells)
        # i/j columns decode the cell id
        res, ci, cj = cell_to_ij(out.cell_id.values)
        assert (res == RES).all()
        assert (ci == out.cell_i.values).all()
        assert (cj == out.cell_j.values).all()

    def test_multi_region_partition_local(self, spark):
        recs = complex_region_records()[:6]
        pdf = pd.DataFrame({
            "region_id": [r["region_id"] for r in recs],
            "xs": [[p[0] for p in r["rings"][0]] for r in recs],
            "ys": [[p[1] for p in r["rings"][0]] for r in recs],
            "ring_offsets": [[0, len(r["rings"][0])] for r in recs],
        })
        df = spark.createDataFrame(pdf).repartition(3)
        out = rasterize_regions(df, RES)
        counts = {r["region_id"]: r["n"] for r in
                  out.groupBy("region_id").count()
                  .withColumnRenamed("count", "n").collect()}
        for rec in recs:
            xs = np.array([p[0] for p in rec["rings"][0]])
            ys = np.array([p[1] for p in rec["rings"][0]])
            cells, _ = covering_cells(xs, ys, np.array([0, len(xs)]), RES)
            assert counts[rec["region_id"]] == len(cells)

    def test_region_id_survives_explode(self, spark):
        """The region id is the input's own column, repeated once per
        covering cell: a nullable bigint id comes back exact and typed."""
        xs = [0.01, 0.09, 0.09, 0.01]
        ys = [50.01, 50.01, 50.09, 50.09]
        ids = [2**62 + 1, None, 2**62 + 3]
        df = spark.createDataFrame(
            [(rid, [x + k for x in xs], ys, [0, 4])
             for k, rid in enumerate(ids)],
            "region_id bigint, xs array<double>, ys array<double>, "
            "ring_offsets array<int>").coalesce(1)
        out = rasterize_regions(df, RES)
        assert out.schema["region_id"].dataType.simpleString() == "bigint"
        got = {}
        for r in out.collect():
            got.setdefault(r.region_id, set()).add(r.cell_id)
        want = {rid: set(covering_cells(np.array(xs) + k, np.array(ys),
                                        np.array([0, 4]), RES)[0].tolist())
                for k, rid in enumerate(ids)}
        assert got == want

    def test_bad_res_rejected(self, spark):
        with pytest.raises(ValueError, match=r"\[0, 26\]"):
            rasterize_regions(_square_df(spark), 27)


class TestSpans:
    def test_hand_case(self, spark):
        # scanline 5: runs [2..4] and [7..7]; scanline 6: [1..1]
        pdf = pd.DataFrame({
            "region_id": ["A"] * 5 + ["B"],
            "cell_i": [5, 5, 5, 5, 6, 5],
            "cell_j": [2, 3, 4, 7, 1, 3],
            "cell_id": range(6), "interior": [True] * 6,
        })
        out = raster_to_spans(spark.createDataFrame(pdf)).toPandas()
        got = {tuple(r) for r in
               out[["region_id", "cell_i", "j_lo", "j_hi", "n_cells"]]
               .itertuples(index=False)}
        assert got == {("A", 5, 2, 4, 3), ("A", 5, 7, 7, 1),
                       ("A", 6, 1, 1, 1), ("B", 5, 3, 3, 1)}

    def test_roundtrip_complex(self, spark):
        recs = complex_region_records()[:4]
        pdf = pd.DataFrame({
            "region_id": [r["region_id"] for r in recs],
            "xs": [[p[0] for p in r["rings"][0]] for r in recs],
            "ys": [[p[1] for p in r["rings"][0]] for r in recs],
            "ring_offsets": [[0, len(r["rings"][0])] for r in recs],
        })
        raster = rasterize_regions(spark.createDataFrame(pdf), RES)
        spans = raster_to_spans(raster)
        back = spans_to_raster(spans).toPandas()
        orig = raster.select("region_id", "cell_i", "cell_j").toPandas()
        a = {tuple(r) for r in back.itertuples(index=False)}
        b = {tuple(r) for r in orig.itertuples(index=False)}
        assert a == b
        # spans really are maximal: no two runs on a scanline touch
        sp = spans.toPandas().sort_values(
            ["region_id", "cell_i", "j_lo"])
        for (_, _), grp in sp.groupby(["region_id", "cell_i"]):
            lo = grp.j_lo.values
            hi = grp.j_hi.values
            assert (lo[1:] > hi[:-1] + 1).all()


class TestZonal:
    def test_hand_case(self, spark):
        raster = spark.createDataFrame(pd.DataFrame({
            "region_id": ["A", "A", "B"],
            "cell_id": [10, 11, 11],
            "cell_i": [0, 0, 0], "cell_j": [0, 1, 1],
            "interior": [True, False, False],
        }))
        values = spark.createDataFrame(pd.DataFrame(
            {"cell_id": [10, 11], "value": [5, 7]}))
        out = {r["region_id"]: (r["n_cells"], r["val_sum"], r["n_interior"])
               for r in zonal_stats(raster, values).collect()}
        assert out == {"A": (2, 12, 1), "B": (1, 7, 0)}


class TestRasterizeJobCLI:
    def test_job_writes_raster_and_spans(self, spark, tmp_path):
        from types import SimpleNamespace

        from geocode_spark import jobs

        recs = complex_region_records()[:2]
        pdf = pd.DataFrame({
            "region_id": [r["region_id"] for r in recs],
            "xs": [[p[0] for p in r["rings"][0]] for r in recs],
            "ys": [[p[1] for p in r["rings"][0]] for r in recs],
            "ring_offsets": [[0, len(r["rings"][0])] for r in recs],
        })
        infile = str(tmp_path / "geoms.parquet")
        pdf.to_parquet(infile, index=False)
        out_r = str(tmp_path / "raster.parquet")
        jobs.rasterize_job(spark, SimpleNamespace(
            infile=infile, outfile=out_r, res=RES, spans=False))
        raster = spark.read.parquet(out_r)
        n_expected = 0
        for rec in recs:
            xs = np.array([p[0] for p in rec["rings"][0]])
            ys = np.array([p[1] for p in rec["rings"][0]])
            n_expected += len(covering_cells(xs, ys,
                                             np.array([0, len(xs)]), RES)[0])
        assert raster.count() == n_expected
        out_s = str(tmp_path / "spans.parquet")
        jobs.rasterize_job(spark, SimpleNamespace(
            infile=infile, outfile=out_s, res=RES, spans=True))
        spans = spark.read.parquet(out_s)
        assert spans.columns == ["region_id", "cell_i", "j_lo", "j_hi",
                                 "n_cells"]
        total = spans.groupBy().sum("n_cells").collect()[0][0]
        assert total == n_expected


class TestGoldenIndependence:
    def test_golden_matches_engine_kernel(self):
        # the driver-oracle golden (pnpoly + Liang-Barsky + bit-loop
        # Morton) agrees with the engine kernel (ray-cast + SAT +
        # mask-cascade Morton) on every cell of a polygon subset
        recs = complex_region_records()[:3]
        g = build_raster_golden(recs, res=RES)
        want = set()
        for rec in recs:
            xs = np.array([p[0] for p in rec["rings"][0]])
            ys = np.array([p[1] for p in rec["rings"][0]])
            cells, interior = covering_cells(xs, ys,
                                             np.array([0, len(xs)]), RES)
            want |= {(rec["region_id"], int(c), bool(i))
                     for c, i in zip(cells, interior)}
        got = {(r, int(c), bool(i))
               for r, c, i in zip(g.region_id, g.cell_id, g.interior)}
        assert got == want

    def test_golden_handles_holes(self):
        # ring 2 is a hole (even-odd): cells wholly inside the hole are
        # dropped by BOTH implementations
        outer = [(0.0, 50.0), (0.4, 50.0), (0.4, 50.4), (0.0, 50.4)]
        hole = [(0.1, 50.1), (0.3, 50.1), (0.3, 50.3), (0.1, 50.3)]
        rec = {"region_id": "H", "rings": [outer, hole]}
        g = build_raster_golden([rec], res=RES)
        xs = np.array([p[0] for p in outer + hole])
        ys = np.array([p[1] for p in outer + hole])
        cells, interior = covering_cells(xs, ys, np.array([0, 4, 8]), RES)
        got = {(int(c), bool(i)) for c, i in zip(g.cell_id, g.interior)}
        want = {(int(c), bool(i)) for c, i in zip(cells, interior)}
        assert got == want
        assert len(got) < 400  # the hole really removed interior cells

class TestRasterPlans:
    """Plan-shape guarantees (same spirit as test_plans.py): the
    raster->vector side must stay pure Catalyst."""

    def test_spans_one_exchange_no_python(self, spark):
        from tests.test_plans import plan_of

        raster = spark.createDataFrame(pd.DataFrame({
            "region_id": ["A"] * 8, "cell_id": range(8),
            "cell_i": [0, 0, 0, 1, 1, 2, 2, 2],
            "cell_j": [0, 1, 5, 0, 1, 3, 4, 9],
            "interior": [True] * 8}))
        plan = plan_of(raster_to_spans(raster))
        # the window's hash partitioning (region, scanline) also
        # satisfies the groupBy's clustering, so exactly ONE shuffle
        # (formatted mode: 'Exchange' once in the tree, once in detail)
        tree = plan.split("\n\n")[0]
        assert tree.count("Exchange") == 1, plan
        assert "hashpartitioning(region_id" in plan, plan
        assert "Python" not in plan and "InPandas" not in plan, plan

    def test_zonal_partial_aggregation(self, spark):
        from tests.test_plans import plan_of

        raster = spark.createDataFrame(pd.DataFrame({
            "region_id": ["A", "B"], "cell_id": [1, 2],
            "cell_i": [0, 0], "cell_j": [0, 1],
            "interior": [True, False]}))
        values = spark.createDataFrame(
            pd.DataFrame({"cell_id": [1, 2], "value": [3, 4]}))
        plan = plan_of(zonal_stats(raster, values))
        # partial (map-side) + final aggregate pair, no Python nodes
        assert plan.count("HashAggregate") >= 2, plan
        assert "Python" not in plan and "InPandas" not in plan, plan
