"""Worker-side operators run Arrow end to end.

* kept input columns come back exactly through both fused reverse-geocode
  entry points and the four multimodal operators (no pandas dtype round
  trip: a nullable bigint stays an exact bigint, a NaN stays a NaN);
* ``geocode_documents`` has one Python stage, and its ``tile_id`` is the
  Catalyst-derived resolution-8 ancestor of ``cell_id``.
"""

import dataclasses
import datetime as dt
import re
from decimal import Decimal

import numpy as np
import pytest

from geocode_spark.cells import cell_of
from geocode_spark.functions.udfs import cell_parent
from geocode_spark.operators.forward_geocode import prepare_cpo, prepare_dims
from geocode_spark.operators.multimodal import (extract_features,
                                                frame_sample, resize_media,
                                                with_media_meta)
from geocode_spark.operators.pipeline import geocode_documents
from geocode_spark.operators.reverse_geocode import (_CoverIndex, _ray_cast,
                                                     reverse_geocode,
                                                     reverse_geocode_multi)
from geocode_spark.regions import load_prepared

KEPT = ["doc_id", "tags", "ts", "price", "latitude", "longitude", "html"]


@pytest.fixture(scope="module")
def preps(fixture_dir):
    return (load_prepared("llsoa", fixture_dir / "prepared"),
            load_prepared("gsp", fixture_dir / "prepared"))


def _rows(df):
    # repr, so NaN compares equal to NaN and NULL stays distinct from it
    return [repr(tuple(r)) for r in df.select(KEPT).collect()]


def test_kept_columns_pass_through_exactly(spark, preps):
    llsoa, gsp = preps
    ts = dt.datetime(2021, 3, 4, 5, 6, 7, 123456)
    # one partition: the NULL id and the big ids share one Arrow batch
    pts = spark.createDataFrame(
        [(2**62 + 1, [1, None, 3], ts, Decimal("12.34"), 53.9, -1.3, b"abcd"),
         (None, [None], None, Decimal("-0.01"), None, -1.3, b"xy"),
         (2**62 + 3, [], ts, None, float("nan"), -1.3, b"z")],
        "doc_id bigint, tags array<int>, ts timestamp, price decimal(10,2), "
        "latitude double, longitude double, html binary").coalesce(1)
    want = _rows(pts)
    assert "4611686018427387907" in want[2]

    fused = reverse_geocode(pts, llsoa, max_distance=5000.0,
                            keep_cell=True, keep_distance=True)
    multi = reverse_geocode_multi(pts, [(llsoa, "llsoa"), (gsp, "gsp")],
                                  keep_cell=True)
    for out in (fused, multi):
        assert _rows(out) == want
        # the non-finite points get no assignment, distance or cell
        tail = out.drop(*KEPT).collect()[1:]
        assert all(v is None for r in tail for v in r)
    assert fused.columns == KEPT + ["region_id", "cell_id", "knn_dist"]
    assert multi.columns == KEPT + ["llsoa", "gsp", "cell_id"]

    for out in (with_media_meta(pts), extract_features(pts),
                resize_media(pts)):
        assert _rows(out) == want
    # the byte-slice fallback gives 2, 2 and 1 frames: each input row's
    # values repeat once per frame
    frames = frame_sample(pts, n_frames=2)
    assert _rows(frames) == [want[0]] * 2 + [want[1]] * 2 + [want[2]]
    assert [r.frame_idx for r in frames.collect()] == [0, 1, 0, 1, 0]


def test_ray_cast_empty_and_bbox(preps):
    llsoa, _ = preps
    index = _CoverIndex(llsoa.cover, llsoa.geoms)
    none = _ray_cast(index, np.empty(0), np.empty(0), np.empty(0, np.int64))
    assert none.dtype == bool and none.size == 0
    # a point 10 degrees east of a vertex and a NaN point are outside
    xs, ys = llsoa.geoms[index.rids[0]][:2]
    got = _ray_cast(index, np.array([xs[0] + 10.0, float("nan")]),
                    np.array([ys[0], ys[0]]), np.zeros(2, np.int64))
    assert not got.any()


@pytest.fixture(scope="module")
def docs(spark, fixture_dir, preps):
    """Fixture pages plus one page whose only postcode misses CPO. The CPO
    dimension is checkpointed, so the plan holds only the pipeline's own
    Python stages (preparing CPO runs a BNG->WGS84 pandas UDF)."""
    cpo = prepare_cpo(
        spark.read.parquet(str(fixture_dir / "cpo_raw.parquet"))
    ).localCheckpoint()
    pages = spark.read.parquet(str(fixture_dir / "pages.parquet"))
    miss = spark.createDataFrame(
        [("https://example.org/nowhere", dt.datetime(2024, 1, 1), b"",
          "write to ZZ9 9ZZ for nothing", "en")], pages.schema)
    return geocode_documents(pages.unionByName(miss), prepare_dims(cpo),
                             *preps)


def test_tile_id_is_res8_cell(docs):
    rows = docs.select("url", "latitude", "longitude", "cell_id",
                       "tile_id").collect()
    hit = [r for r in rows if r.latitude is not None]
    assert len(hit) > 1000
    lat = np.array([r.latitude for r in hit])
    lon = np.array([r.longitude for r in hit])
    assert [r.tile_id for r in hit] == cell_of(lat, lon, 8).tolist()
    missed = [r for r in rows if r.url == "https://example.org/nowhere"]
    assert len(missed) == 1
    assert missed[0].latitude is None
    assert missed[0].cell_id is None and missed[0].tile_id is None


def test_cell_parent_matches_cell_of(spark):
    rng = np.random.default_rng(7)
    lat = np.r_[rng.uniform(-90, 90, 2000), -90.0, 90.0, 0.0, 89.9999999]
    lon = np.r_[rng.uniform(-180, 180, 2000), -180.0, 180.0, 179.9999999, 0.0]
    want = cell_of(lat, lon, 8).tolist()
    ress = (8, 10, 13, 17, 26)
    df = spark.createDataFrame(
        [tuple(int(c[k]) for c in (cell_of(lat, lon, r) for r in ress))
         for k in range(len(lat))], ", ".join(f"c{r} long" for r in ress))
    got = df.select(*(cell_parent(f"c{r}", r, 8).alias(f"p{r}")
                      for r in ress)).collect()
    for i, r in enumerate(ress):
        assert [row[i] for row in got] == want, r
    with pytest.raises(ValueError):
        cell_parent("c8", 7, 8)


def test_one_python_stage(docs):
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bMapInArrow\b", plan)) == 1, plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_llsoa_res_below_8_raises(spark, fixture_dir, preps):
    llsoa, gsp = preps
    cpo = prepare_cpo(
        spark.read.parquet(str(fixture_dir / "cpo_raw.parquet")))
    pages = spark.read.parquet(str(fixture_dir / "pages.parquet"))
    with pytest.raises(ValueError, match="resolution"):
        geocode_documents(pages, prepare_dims(cpo),
                          dataclasses.replace(llsoa, res=7), gsp)
