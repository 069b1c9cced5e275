"""From-scratch Avro OCF codec + Iceberg v1 metadata layer: binary
round-trips, snapshot lifecycle (append/overwrite/time-travel), read_pages
resolution, and snapshot-aware lineage through the geocode_pages job."""

import json

import pytest
import pyspark.sql.functions as F

from geocode_spark.sources.avro_ocf import read_ocf, write_ocf


COMPLEX_SCHEMA = {
    "type": "record", "name": "top", "fields": [
        {"name": "s", "type": "string"},
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "d", "type": "double"},
        {"name": "fl", "type": "float"},
        {"name": "b", "type": "boolean"},
        {"name": "by", "type": "bytes"},
        {"name": "opt", "type": ["null", "long"], "default": None},
        {"name": "arr", "type": {"type": "array", "items": "string"}},
        {"name": "m", "type": {"type": "map", "values": "long"}},
        {"name": "fx", "type": {"type": "fixed", "name": "f8", "size": 3}},
        {"name": "en", "type": {"type": "enum", "name": "e1",
                                "symbols": ["A", "B", "C"]}},
        {"name": "nested", "type": {
            "type": "record", "name": "inner", "fields": [
                {"name": "x", "type": "long"},
                {"name": "empty", "type": {
                    "type": "record", "name": "r102", "fields": []}},
            ]}},
    ]}

ROWS = [
    {"s": "héllo", "i": -1, "l": 2**40, "d": 1.5, "fl": 0.25, "b": True,
     "by": b"\x00\xff", "opt": None, "arr": ["a", "b"], "m": {"k": 7},
     "fx": b"abc", "en": "B", "nested": {"x": -(2**35), "empty": {}}},
    {"s": "", "i": 0, "l": -1, "d": -0.0, "fl": 2.0, "b": False,
     "by": b"", "opt": 42, "arr": [], "m": {}, "fx": b"xyz", "en": "A",
     "nested": {"x": 0, "empty": {}}},
]


class TestAvroOcf:
    @pytest.mark.parametrize("codec", ["null", "deflate"])
    def test_roundtrip_all_types(self, codec):
        blob = write_ocf(COMPLEX_SCHEMA, ROWS, codec=codec)
        schema, meta, records = read_ocf(blob)
        assert records == ROWS
        assert meta["avro.codec"] == codec.encode()

    def test_zigzag_longs(self):
        schema = {"type": "record", "name": "r", "fields": [
            {"name": "v", "type": "long"}]}
        vals = [0, -1, 1, 63, -64, 64, 2**62, -(2**62), 2**63 - 1, -(2**63)]
        blob = write_ocf(schema, [{"v": v} for v in vals])
        _, _, recs = read_ocf(blob)
        assert [r["v"] for r in recs] == vals

    def test_negative_count_array_blocks(self):
        """Spec: array blocks may carry a NEGATIVE count followed by a byte
        size (so readers can skip). Hand-encode one and decode it."""
        from geocode_spark.sources.avro_ocf import _Reader, _decode, parse_schema

        # array<long> [5, 7] as one negative block then terminator:
        # count=-2 (zigzag 3), size=2 bytes, items 5,7 (zigzag 10,14), 0 end
        payload = bytes([0x03, 0x04, 0x0A, 0x0E, 0x00])
        schema = parse_schema(json.dumps({"type": "array", "items": "long"}))
        assert _decode(schema, _Reader(payload)) == [5, 7]

    def test_corrupt_sync_marker_detected(self):
        blob = bytearray(write_ocf(COMPLEX_SCHEMA, ROWS))
        blob[-1] ^= 0xFF  # flip a trailing sync byte
        with pytest.raises(ValueError, match="sync"):
            read_ocf(bytes(blob))


@pytest.fixture()
def pages_df(spark):
    return (spark.range(100).select(
        F.concat(F.lit("https://ex.org/p"), F.col("id")).alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html>"), F.col("id")), "utf-8").alias("html"),
        F.concat(F.lit("visit RG1 3PE office "), F.col("id")).alias("text"),
        F.lit("en").alias("lang")))


class TestIcebergTable:
    def test_write_read_roundtrip(self, spark, tmp_path, pages_df):
        from geocode_spark.sources import iceberg

        tbl = tmp_path / "t1"
        sid = iceberg.write_iceberg(spark, pages_df, tbl)
        assert sid == 1
        back = iceberg.read_iceberg(spark, tbl)
        assert back.count() == 100
        assert set(back.columns) == {"url", "warc_ts", "html", "text", "lang"}
        assert iceberg.current_snapshot_id(spark, tbl) == 1
        # byte-identical content through the parquet round trip
        assert (back.select("url", "text").exceptAll(
            pages_df.select("url", "text")).count() == 0)

    def test_append_and_time_travel(self, spark, tmp_path, pages_df):
        from geocode_spark.sources import iceberg

        tbl = tmp_path / "t2"
        s1 = iceberg.write_iceberg(spark, pages_df, tbl)
        extra = pages_df.withColumn("url", F.concat(F.col("url"), F.lit("-v2")))
        s2 = iceberg.write_iceberg(spark, extra, tbl, mode="append")
        assert (s1, s2) == (1, 2)
        assert iceberg.read_iceberg(spark, tbl).count() == 200
        # time travel: snapshot 1 still reads exactly the original rows
        assert iceberg.read_iceberg(spark, tbl, snapshot_id=1).count() == 100
        snaps = iceberg.snapshots(spark, tbl)
        assert [s["snapshot-id"] for s in snaps] == [1, 2]
        assert snaps[1]["parent-snapshot-id"] == 1
        assert snaps[1]["summary"]["operation"] == "append"

    def test_overwrite_keeps_history(self, spark, tmp_path, pages_df):
        from geocode_spark.sources import iceberg

        tbl = tmp_path / "t3"
        iceberg.write_iceberg(spark, pages_df, tbl)
        iceberg.write_iceberg(spark, pages_df.limit(10), tbl,
                              mode="overwrite")
        assert iceberg.read_iceberg(spark, tbl).count() == 10
        assert iceberg.read_iceberg(spark, tbl, snapshot_id=1).count() == 100

    def test_record_counts_in_manifests(self, spark, tmp_path, pages_df):
        """Manifest record_count comes from parquet footers and must sum to
        the table row count (the lineage/metrics contract)."""
        from geocode_spark.sources import iceberg

        tbl = tmp_path / "t4"
        iceberg.write_iceberg(spark, pages_df.repartition(4), tbl)
        files = iceberg.data_files(spark, tbl)
        assert len(files) == 4
        assert sum(f["record_count"] for f in files) == 100
        assert all(f["file_size_in_bytes"] > 0 for f in files)
        assert all(f["file_format"] == "PARQUET" for f in files)

    def test_read_pages_resolution(self, spark, tmp_path, pages_df):
        """read_pages: Iceberg table -> metadata-layer reader; plain
        parquet dir -> parquet; snapshot ids surface only for Iceberg."""
        from geocode_spark.sources import iceberg
        from geocode_spark.sources.loaders import pages_snapshot_id, read_pages

        tbl = tmp_path / "tbl"
        iceberg.write_iceberg(spark, pages_df, tbl)
        pq = tmp_path / "plain"
        pages_df.write.parquet(str(pq))
        assert read_pages(spark, str(tbl)).count() == 100
        assert read_pages(spark, str(pq)).count() == 100
        assert pages_snapshot_id(spark, str(tbl)) == "1"
        assert pages_snapshot_id(spark, str(pq)) is None
        # snapshot pin through read_pages
        iceberg.write_iceberg(spark, pages_df.limit(5), tbl, mode="append")
        assert read_pages(spark, str(tbl)).count() == 105
        assert read_pages(spark, str(tbl), snapshot_id=1).count() == 100

    def test_read_pages_resolves_version_once(self, spark, tmp_path,
                                              pages_df, monkeypatch):
        """Detecting the table is one listing; only the read resolves
        the current version (hint read plus the upward probe)."""
        from geocode_spark.sources import iceberg
        from geocode_spark.sources.loaders import read_pages

        tbl = tmp_path / "tbl"
        iceberg.write_iceberg(spark, pages_df, tbl)
        calls = []
        real = iceberg._current_version

        def counted(meta):
            calls.append(str(meta))
            return real(meta)

        monkeypatch.setattr(iceberg, "_current_version", counted)
        assert read_pages(spark, str(tbl)).count() == 100
        assert len(calls) == 1


class TestSnapshotAwareLineage:
    def test_geocode_pages_iceberg_resume_and_append(self, spark, tmp_path,
                                                     fixture_dir):
        """North-star wiring: geocode_pages over an ICEBERG input derives
        the lineage snapshot id from table metadata — resume under the same
        snapshot skips all buckets; an APPEND to the table (new snapshot)
        invalidates and recomputes automatically, no hand-passed id; an
        EXPLICIT --snapshot time-travels back."""
        from types import SimpleNamespace

        from geocode_spark.jobs import _SNAPSHOT_DEFAULT, geocode_pages
        from geocode_spark.plans.lineage import read_lineage
        from geocode_spark.sources import iceberg

        pages = spark.read.parquet(str(fixture_dir / "pages.parquet"))
        tbl = tmp_path / "pages_iceberg"
        iceberg.write_iceberg(spark, pages, tbl)
        out = tmp_path / "gp_out"
        args = SimpleNamespace(infile=str(tbl), outfile=str(out),
                               prepared=str(fixture_dir / "prepared"),
                               fixtures=str(fixture_dir),
                               buckets=3, snapshot=_SNAPSHOT_DEFAULT)
        geocode_pages(spark, args)
        m1 = read_lineage(out, spark=spark)
        assert len(m1) == 3
        assert all(m["snapshot_id"] == "1" for m in m1)
        rows1 = spark.read.parquet(str(out)).count()

        geocode_pages(spark, args)  # same snapshot: full resume
        assert [m["ts"] for m in read_lineage(out, spark=spark)] \
            == [m["ts"] for m in m1]

        # append 20 more pages -> snapshot 2 -> all buckets recompute
        iceberg.write_iceberg(spark, pages.limit(20).withColumn(
            "url", F.concat(F.col("url"), F.lit("?v=2"))), tbl,
            mode="append")
        geocode_pages(spark, args)
        m2 = read_lineage(out, spark=spark)
        assert all(m["snapshot_id"] == "2" for m in m2)
        assert spark.read.parquet(str(out)).count() > rows1

        # explicit --snapshot 1 = time travel: the pin wins over the
        # current snapshot, both in the read and in the lineage stamp
        geocode_pages(spark, SimpleNamespace(**{**vars(args),
                                                "snapshot": "1"}))
        m3 = read_lineage(out, spark=spark)
        assert all(m["snapshot_id"] == "1" for m in m3)
        assert spark.read.parquet(str(out)).count() == rows1

        # a non-numeric explicit --snapshot on an Iceberg input is an
        # error, never silently replaced by the current snapshot
        with pytest.raises(SystemExit, match="numeric"):
            geocode_pages(spark, SimpleNamespace(**{**vars(args),
                                                    "snapshot": "nope"}))
