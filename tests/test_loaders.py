"""Source loader tests (SURVEY §2.1): zip-CSV scan, PSV scan, GeoJSON parse,
7z gating, versioned prepared cache."""

import zipfile

import pytest

from geocode_spark.sources.loaders import (clear_prepared, geojson_to_records,
                                           load_cpo_zip, load_psv_centroids,
                                           prepared_path, read_csv_from_7z)


def test_load_cpo_zip(spark, tmp_path):
    # synthesize a codepo_gb.zip with two Data/CSV members + a decoy
    zp = tmp_path / "codepo_gb.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("Data/CSV/ab.csv",
                   '"AB1 0AA",10,385386,801193,"S92000003","","S08000020","","S12000033","S13002842"\n')
        z.writestr("Data/CSV/zz.csv",
                   '"ZZ9 9ZZ",10,530000,180000,"E92000001","","","","",""\n')
        z.writestr("Doc/readme.txt", "not a data file")
    df = load_cpo_zip(spark, zp, staging_dir=tmp_path / "staging")
    rows = {r.Postcode: r for r in df.collect()}
    assert set(rows) == {"AB1 0AA", "ZZ9 9ZZ"}
    assert rows["AB1 0AA"].Eastings == 385386
    assert df.columns == ["Postcode", "Positional_quality_indicator",
                          "Eastings", "Northings"]


def test_load_cpo_zip_empty_raises(spark, tmp_path):
    zp = tmp_path / "empty.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("other.txt", "x")
    with pytest.raises(FileNotFoundError):
        load_cpo_zip(spark, zp, staging_dir=tmp_path / "s2")


def test_load_psv(spark, tmp_path):
    p = tmp_path / "c.psv"
    p.write_text("E14000530|Aldershot|-0.7841|51.288952\n"
                 "E14000575|Blyth Valley|-1.56095|55.092758\n")
    df = load_psv_centroids(spark, p)
    rows = {r.name: r for r in df.collect()}
    assert rows["Aldershot"].latitude == pytest.approx(51.288952)
    assert rows["Blyth Valley"].longitude == pytest.approx(-1.56095)


def test_geojson_records():
    fc = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature",
             "properties": {"code": "R1", "grp": "_G"},
             "geometry": {"type": "Polygon",
                          "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]]}},
            {"type": "Feature",
             "properties": {"code": "R2"},
             "geometry": {"type": "MultiPolygon",
                          "coordinates": [[[[2, 2], [3, 2], [3, 3], [2, 3]]],
                                          [[[5, 5], [6, 5], [6, 6], [5, 6]]]]}},
            {"type": "Feature", "properties": {"code": "R3"},
             "geometry": {"type": "Point", "coordinates": [9, 9]}},
        ],
    }
    recs = geojson_to_records(fc, "code", ("grp",))
    assert [r["region_id"] for r in recs] == ["R1", "R2"]  # Point skipped
    assert recs[0]["grp"] == "_G"
    assert len(recs[1]["rings"]) == 2  # multipolygon parts

    # end-to-end: records -> prepared -> PIP
    from geocode_spark.regions import prepare_regions
    import numpy as np
    from geocode_spark.geometry import points_in_polygon

    prep = prepare_regions(recs, "gj")
    xs, ys, offs, bbox = prep.geoms["R2"]
    assert points_in_polygon(np.array([2.5, 5.5, 4.0]),
                             np.array([2.5, 5.5, 4.0]), xs, ys, offs).tolist() \
        == [True, True, False]


def test_duplicate_region_id_rejected():
    """Two features sharing an id would leave one geometry but both covers
    in the prepared set: prepare_regions refuses them by name."""
    from geocode_spark.regions import prepare_regions

    square = [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]]
    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {"code": c},
         "geometry": {"type": "Polygon", "coordinates": square}}
        for c in ("R1", "R2", "R1")]}
    recs = geojson_to_records(fc, "code", ())
    with pytest.raises(ValueError, match="duplicate region_id 'R1'"):
        prepare_regions(recs, "dup")
    assert len(prepare_regions(recs[:2], "dup").geoms) == 2


class Test7z:
    """S2/S3 on the built-in from-scratch 7z codec (sources/sevenzip.py:
    py7zr is absent here, so the fallback IS the path under test). Writer
    covers 7z's default layouts (solid folder, encoded header) so the
    reader is exercised against production archive shapes."""

    def test_read_csv_from_7z(self, spark, tmp_path):
        from geocode_spark.sources.sevenzip import write_7z

        csv = b"postcode,eastings,northings\nAB1 0AA,385386,801193\n" \
              b"ZZ9 9ZZ,530000,180000\n"
        ar = tmp_path / "cpo.7z"
        write_7z(ar, {"Data/CSV/ab.csv": csv}, solid=True, encode_header=True)
        df = read_csv_from_7z(spark, ar, "Data/CSV/ab.csv", header=True)
        rows = df.orderBy("postcode").collect()
        assert [r.postcode for r in rows] == ["AB1 0AA", "ZZ9 9ZZ"]

    def test_read_geojson_from_7z(self, tmp_path):
        import json

        from geocode_spark.sources.loaders import read_geojson_from_7z
        from geocode_spark.sources.sevenzip import write_7z

        fc = {"type": "FeatureCollection", "features": [{
            "type": "Feature",
            "properties": {"region_id": "R1", "grp": "_G"},
            "geometry": {"type": "Polygon",
                         "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1]]]},
        }]}
        ar = tmp_path / "regions.7z"
        write_7z(ar, {"b.geojson": json.dumps(fc).encode()},
                 encode_header=True)
        recs = read_geojson_from_7z(ar, "b.geojson",
                                    extra_properties=("grp",))
        assert recs[0]["region_id"] == "R1" and recs[0]["grp"] == "_G"
        assert recs[0]["rings"][0][0] == (0.0, 0.0)

    def test_unsupported_codec_raises(self, tmp_path):
        from geocode_spark.sources.sevenzip import (_write_number, MAGIC,
                                                    read_7z)
        import struct
        import zlib

        # hand-build an archive whose folder declares a BCJ2-style codec id
        h = bytes([0x01, 0x04, 0x06]) + _write_number(0) + _write_number(1) \
            + bytes([0x09]) + _write_number(4) + bytes([0x00]) \
            + bytes([0x07, 0x0B]) + _write_number(1) + bytes([0x00]) \
            + _write_number(1) + bytes([0x04]) + bytes([3, 3, 1, 27]) \
            + bytes([0x0C]) + _write_number(4) + bytes([0x00, 0x00, 0x00])
        body = b"XXXX"
        tail = struct.pack("<QQ", len(body), len(h)) + \
            struct.pack("<I", zlib.crc32(h) & 0xFFFFFFFF)
        data = MAGIC + bytes([0, 4]) + \
            struct.pack("<I", zlib.crc32(tail) & 0xFFFFFFFF) + tail + body + h
        p = tmp_path / "bcj.7z"
        p.write_bytes(data)
        with pytest.raises(Exception, match="not supported|unexpected"):
            read_7z(p)


def test_clear_prepared(tmp_path):
    for name in ["llsoa_1", "llsoa_2", "gsp_2"]:
        (tmp_path / name).mkdir()
    assert prepared_path(tmp_path, "llsoa", "2") == tmp_path / "llsoa_2"
    removed = clear_prepared(tmp_path, keep_version="2")
    assert removed == ["llsoa_1"]
    removed = clear_prepared(tmp_path, label="gsp")
    assert removed == ["gsp_2"]
    assert (tmp_path / "llsoa_2").exists()
