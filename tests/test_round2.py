"""Round-2 additions: metre-unit kNN, NUTS year vintages, GSP 20181031 BNG
path, facade lifecycle parity, dedup scale guards, single-pass lineage,
ingest pagination."""

import json

import pytest
import pyspark.sql.functions as F

from geocode_spark.geocoder import GeocoderSpark


@pytest.fixture(scope="module")
def geo(spark, fixture_dir):
    return GeocoderSpark(spark, data_dir=str(fixture_dir))


class TestMetricKnn:
    def test_metre_semantics(self, spark, fixture_dir):
        """Reference parity: max_distance is in the regions' CRS units
        (utilities.py:253-255) — a 1 km bound must behave like 1 km, not
        1 degree. Point ~1.25 km east of E01002050's right edge."""
        from geocode_spark.regions import load_prepared
        from geocode_spark.operators.reverse_geocode import reverse_geocode

        prep = load_prepared("llsoa", fixture_dir / "prepared")
        # E01002050: lon [-0.07, -0.06], lat [51.57, 51.58]
        df = spark.createDataFrame(
            [(0, 51.575, -0.042)],  # 0.018 deg east ~ 1.25 km at cos(51.6)
            "row_id long, latitude double, longitude double")
        hit = reverse_geocode(df, prep, max_distance=2000.0,
                              distance_unit="m", keep_distance=True).collect()[0]
        assert hit.region_id == "E01002050"
        assert hit.knn_dist == pytest.approx(1246.0, abs=5.0)
        miss = reverse_geocode(df, prep, max_distance=1000.0,
                               distance_unit="m").collect()[0]
        assert miss.region_id is None

    def test_crs_default_unit(self, fixture_dir):
        """EPSG:27700-sourced preps default to metres, WGS84 to degrees."""
        from geocode_spark.regions import load_prepared

        assert load_prepared("gsp_20181031", fixture_dir / "prepared").crs \
            == "EPSG:27700"
        assert load_prepared("llsoa", fixture_dir / "prepared").crs \
            == "EPSG:4326"


class TestFacadeParity:
    def test_nuts_year_routing(self, geo, spark):
        """eurostat.py:117-121: year selects a different vintage table. A
        point near the 2021 UKK15 boundary is outside the smaller 2016
        square."""
        df = spark.createDataFrame(
            [(0, 51.3259, -1.57)],  # 0.39 deg east of the l3 centre
            "row_id long, latitude double, longitude double")
        assert geo.reverse_geocode_nuts(df, level=3, year=2021) \
            .collect()[0].nuts == "UKK15"
        assert geo.reverse_geocode_nuts(df, level=3, year=2016) \
            .collect()[0].nuts is None
        with pytest.raises(ValueError, match="year"):
            geo.reverse_geocode_nuts(df, level=3, year=1999)

    def test_gsp_20181031(self, geo, spark):
        """neso.py:303-343: E/N-sourced vintage + many:many gnode expand."""
        from geocode_spark.crs import bng_to_latlon
        import numpy as np

        lat, lon = bng_to_latlon(np.array([405000.0]), np.array([425000.0]))
        df = spark.createDataFrame(
            [(0, float(lat[0]), float(lon[0]))],
            "row_id long, latitude double, longitude double")
        rows = geo.reverse_geocode_gsp(df, version="20181031") \
            .orderBy("gnode").collect()
        assert [(r.gsp, r.gsp_name, r.gnode) for r in rows] == [
            ("103", "INDQ1", "INDQ"), ("103", "INDQ1", "IRON")]

    def test_boundary_accessors(self, geo):
        """geocode.py:108-137: region tables returned as DataFrames."""
        gsp = geo.get_gsp_regions()
        assert gsp.count() == 2 and "GSPGroup" in gsp.columns
        assert geo.get_llsoa_boundaries().count() == 6
        dno = geo.get_dno_regions().collect()
        assert {r.region_id for r in dno} == {"10", "12"}

    def test_geocode_postcode_method(self, geo, spark):
        """geocode.py:236-245 method kwarg: validated; gmaps stub returns
        status 0 (no API key, gmaps.py:145-148)."""
        df = spark.createDataFrame([(0, "RG1 3PE")],
                                   "row_id long, postcode string")
        with pytest.raises(ValueError, match="method"):
            geo.geocode_postcode(df, method="nope")
        out = geo.geocode_postcode(df, method="gmaps").collect()[0]
        assert out.match_status == 0 and out.latitude is None

    def test_dz_default_true(self, geo, spark):
        """geocode.py:150: dz defaults True — a Scottish OA region relabels
        to its datazone unless opted out."""
        df = spark.createDataFrame(
            [(0, 55.95, -4.33)],  # inside S00101253
            "row_id long, latitude double, longitude double")
        assert geo.reverse_geocode_llsoa(df).collect()[0].llsoa == "S01008087"
        assert geo.reverse_geocode_llsoa(df, dz=False).collect()[0].llsoa \
            == "S00101253"


class TestForceSetup:
    def test_force_setup_builds_into_fresh_dirs(self, spark, tmp_path):
        """force_setup parity (geocode.py:95-107): a fresh data dir becomes
        fully usable — prepared artifacts + dimension tables — and queries
        answer golden values from it."""
        g = GeocoderSpark(spark, data_dir=str(tmp_path / "fx"),
                          prepared_dir=str(tmp_path / "prep"))
        g.force_setup()
        assert (tmp_path / "prep" / "llsoa" / "meta.json").exists()
        df = spark.createDataFrame(
            [(0, 54.547777, -1.195629)],
            "row_id long, latitude double, longitude double")
        assert g.reverse_geocode_llsoa(df).collect()[0].llsoa == "E01012082"
        g.clear_prepared()
        assert not (tmp_path / "prep").exists()


class TestSkewSalting:
    def test_salt_rebalances_clustered_input(self, spark, fixture_dir):
        """North-rule skew control: a crawl sharded by site puts all of one
        city in one partition; salt_partitions must spread it so every
        fused-path worker gets comparable work. Deterministic salt only —
        recompute-safe (SPARK-23207)."""
        import pyspark.sql.functions as F

        from geocode_spark.regions import load_prepared
        from geocode_spark.operators.reverse_geocode import reverse_geocode

        prep = load_prepared("llsoa", fixture_dir / "prepared")
        # 20k points clustered inside ONE region, all in ONE partition
        pts = (spark.range(20000).coalesce(1)
               .select(F.col("id").alias("row_id"),
                       (F.lit(51.571) + (F.col("id") % 97) * F.lit(0.00008))
                       .alias("latitude"),
                       (F.lit(-0.069) + (F.col("id") % 89) * F.lit(0.0001))
                       .alias("longitude")))
        out = reverse_geocode(pts, prep, salt_partitions=8)
        sizes = [r.n for r in out.groupBy(F.spark_partition_id())
                 .agg(F.count("*").alias("n")).collect()]
        assert len(sizes) == 8
        assert max(sizes) < 2 * min(sizes), sizes
        # same assignments as the unsalted run
        a = {r.row_id: r.region_id for r in out.collect()}
        b = {r.row_id: r.region_id
             for r in reverse_geocode(pts, prep).collect()}
        assert a == b


class TestDedupGuards:
    def test_stop_gram_cap_bounds_hot_gram(self, spark):
        from geocode_spark.operators.dedup import ngram_jaccard_all_pairs

        rows = [(i, f"common gram here unique{i} word{i} tail{i}")
                for i in range(8)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        # 'common gram here' appears in all 8 docs; cap 4 drops it from the
        # join -> no pair shares any remaining gram
        capped = ngram_jaccard_all_pairs(df, threshold=0.01, max_gram_df=4)
        assert capped.count() == 0
        uncapped = ngram_jaccard_all_pairs(df, threshold=0.01,
                                           max_gram_df=None)
        assert uncapped.count() == 28  # all pairs share the hot gram

    def test_cosine_bucketed_subset_of_exact(self, spark):
        from geocode_spark.operators.dedup import embedding_cosine_pairs

        import numpy as np
        rng = np.random.default_rng(3)
        base = rng.standard_normal(16)
        rows = []
        for i in range(20):
            v = base + 0.01 * rng.standard_normal(16)  # near-dup cluster
            rows.append((i, [float(x) for x in v]))
        for i in range(20, 40):
            rows.append((i, [float(x) for x in rng.standard_normal(16)]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        exact = {(r.id_a, r.id_b) for r in embedding_cosine_pairs(
            df, threshold=0.99, method="exact").collect()}
        bucketed = {(r.id_a, r.id_b) for r in embedding_cosine_pairs(
            df, threshold=0.99, method="bucketed", dim=16, bits=8).collect()}
        assert bucketed <= exact
        # near-identical vectors share every sign bucket: full recall here
        assert bucketed == exact and len(exact) == 190
        # auto with a tiny cap routes to bucketed without error
        auto = embedding_cosine_pairs(df, threshold=0.99, method="auto",
                                      max_exact_rows=10, dim=16, bits=8)
        assert {(r.id_a, r.id_b) for r in auto.collect()} == bucketed

    def test_dup_clusters_strict_raises_unconverged(self, spark):
        """Round 6 moved dup_clusters to local-contraction + driver finish,
        so the strict non-convergence contract now lives in the distributed
        fallback loop (taken when the contracted residue exceeds the driver
        cap) — exercise the loop directly with a diameter > max_iters
        chain, then the public API end to end."""
        import pyspark.sql.functions as F

        from geocode_spark.operators.dedup import (_propagate_loop,
                                                   dup_clusters)

        nodes = spark.createDataFrame([(i,) for i in range(6)], "src long")
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(5)], "src long, dst long")
        with pytest.raises(RuntimeError, match="converge"):
            _propagate_loop(nodes, chain, max_iters=1)
        loop_ok = _propagate_loop(nodes, chain, max_iters=10)
        assert {r.label for r in loop_ok.collect()} == {0}

        pub = dup_clusters(
            nodes.select(F.col("src").alias("doc_id")),
            chain.select(F.col("src").alias("id_a"),
                         F.col("dst").alias("id_b")), max_iters=1)
        assert {r.cluster_id for r in pub.collect()} == {0}

    def test_dup_clusters_fallback_loop_path(self, spark, spread_shuffles,
                                             monkeypatch):
        """Force the contracted residue over the driver cap so the
        distributed fallback path runs, and check it matches the driver
        finish on a graph whose components span every range partition
        (chains within one range leave no residue)."""
        import pyspark.sql.functions as F

        from geocode_spark.operators import dedup
        from geocode_spark.operators.dedup import dup_clusters

        nodes = spark.range(64).select(F.col("id").alias("doc_id"))
        pairs = (spark.range(56)
                 .select(F.col("id").alias("id_a"),
                         (F.col("id") + 8).alias("id_b"))
                 .repartition(8))
        base = {(r.doc_id, r.cluster_id)
                for r in dup_clusters(nodes, pairs).collect()}
        loops = []
        loop = dedup._propagate_loop
        monkeypatch.setattr(dedup, "_DRIVER_MAX_EDGES", 0)
        monkeypatch.setattr(dedup, "_propagate_loop",
                            lambda *a: loops.append(a) or loop(*a))
        forced = {(r.doc_id, r.cluster_id)
                  for r in dup_clusters(nodes, pairs).collect()}
        assert loops
        assert forced == base
        assert base == {(i, i % 8) for i in range(64)}

    def test_dup_clusters_ignores_edges_outside_nodes(self, spark):
        """Legacy semantics: a pair endpoint absent from ``nodes`` never
        relays labels (the old per-round join dropped it implicitly; the
        round-6 contraction must not connect THROUGH it)."""
        nodes = spark.createDataFrame([(1,), (3,)], "doc_id long")
        # 1-2 and 2-3 would merge 1,3 through 2 — but 2 is not a node
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3)], "id_a long, id_b long")
        from geocode_spark.operators.dedup import dup_clusters
        got = {r.doc_id: r.cluster_id
               for r in dup_clusters(nodes, pairs).collect()}
        assert got == {1: 1, 3: 3}


class TestResizeMedia:
    def test_real_resize_and_null_policy(self, spark, fixture_dir):
        """Real path: decodable images come back as resampled BMP bytes;
        non-image payloads yield NULL (strict raises instead)."""
        import numpy as np
        import pytest as _pytest

        from geocode_spark.functions.media import decode_bmp, encode_png
        from geocode_spark.operators.multimodal import resize_media

        img = encode_png(np.arange(48, dtype=np.uint8).reshape(4, 4, 3))
        df = spark.createDataFrame(
            [(1, bytearray(img)), (2, bytearray(b"just text"))],
            "id: long, payload: binary")
        rows = {r.id: r for r in
                resize_media(df, binary_col="payload",
                             width=8, height=4).collect()}
        out = decode_bmp(rows[1].resized)
        assert out.shape == (4, 8, 3)
        assert rows[2].resized is None
        assert all((r.resized_width, r.resized_height) == (8, 4)
                   for r in rows.values())
        with _pytest.raises(Exception, match="MediaFormatError"):
            resize_media(df, binary_col="payload", strict=True).collect()

    def test_custom_resize_fn(self, spark, fixture_dir):
        from geocode_spark.operators.multimodal import resize_media

        pages = spark.read.parquet(str(fixture_dir / "pages.parquet")).limit(3)
        out = resize_media(pages, binary_col="html", width=2, height=2,
                           resize_fn=lambda b, w, h: bytes([len(b) % 256]) * (w * h))
        assert all(len(r.resized) == 4 for r in out.collect())


class TestLineageSinglePass:
    def test_key_must_survive_transform(self, spark, tmp_path):
        from geocode_spark.plans.lineage import run_with_lineage

        df = spark.range(100).withColumn("k", F.col("id") % 10)
        with pytest.raises(ValueError, match="survive"):
            run_with_lineage(df, tmp_path / "o", key_col="id",
                             transform=lambda d: d.select("k"), n_buckets=2)

    def test_partitioned_layout_and_counts(self, spark, tmp_path):
        from geocode_spark.plans.lineage import run_with_lineage

        df = spark.range(500)
        out = tmp_path / "lp"
        res = run_with_lineage(df, out, key_col="id", n_buckets=4,
                               snapshot_id="s1")
        assert sum(r.rows for r in res) == 500
        # partitionBy layout: bucket=<i> dirs under one write root
        assert sorted(p.name for p in out.glob("bucket=*")) == [
            f"bucket={i}" for i in range(4)]
        # manifests carry the counts observed on the write
        m = json.loads((out / "_lineage" / "bucket=0.json").read_text())
        assert m["rows"] == res[0].rows and m["committed"]
        # round-trip: partition column readable
        back = spark.read.parquet(str(out))
        assert back.count() == 500 and "bucket" in back.columns


class TestCliLifecycle:
    def test_clear_cache_job(self, spark, tmp_path, fixture_dir):
        """clear-cache parity (geocode.py:521-557): stale versions dropped,
        kept version survives."""
        import shutil
        from types import SimpleNamespace

        from geocode_spark.jobs import clear_cache_job

        prep = tmp_path / "prepared"
        for name in ["gsp_2022", "gsp_2026", "llsoa_2021"]:
            shutil.copytree(fixture_dir / "prepared" / "gsp", prep / name)
        args = SimpleNamespace(prepared=str(prep), keep_version="2026",
                               name="gsp")
        clear_cache_job(spark, args)
        assert sorted(p.name for p in prep.iterdir()) == ["gsp_2026",
                                                          "llsoa_2021"]

    def test_geocode_pages_job_resume(self, spark, tmp_path, fixture_dir):
        """North-star CLI job end-to-end on the single-pass lineage: first
        run computes every bucket, second run resumes them all; output rows
        stable across the resume."""
        from types import SimpleNamespace

        from geocode_spark.jobs import geocode_pages
        from geocode_spark.plans.lineage import read_lineage

        out = tmp_path / "gp"
        args = SimpleNamespace(infile=str(fixture_dir / "pages.parquet"),
                               outfile=str(out),
                               prepared=str(fixture_dir / "prepared"),
                               fixtures=str(fixture_dir),
                               buckets=3, snapshot="s1")
        geocode_pages(spark, args)
        m1 = read_lineage(out)
        assert len(m1) == 3 and all(m["committed"] for m in m1)
        rows1 = spark.read.parquet(str(out)).count()
        assert rows1 == sum(m["rows"] for m in m1) > 0
        geocode_pages(spark, args)  # resume: nothing recomputed
        assert spark.read.parquet(str(out)).count() == rows1
        assert [m["ts"] for m in read_lineage(out)] == [m["ts"] for m in m1]

    def test_prepare_regions_job_from_7z(self, spark, tmp_path):
        """S3 end-to-end through the CLI: 7z GeoJSON -> prepared artifacts."""
        import json
        from types import SimpleNamespace

        from geocode_spark.jobs import prepare_regions_job
        from geocode_spark.regions import load_prepared
        from geocode_spark.sources.sevenzip import write_7z

        fc = {"type": "FeatureCollection", "features": [{
            "type": "Feature", "properties": {"region_id": "Z1"},
            "geometry": {"type": "Polygon",
                         "coordinates": [[[0, 50], [1, 50], [1, 51], [0, 51]]]},
        }]}
        ar = tmp_path / "b.7z"
        write_7z(ar, {"regions.geojson": json.dumps(fc).encode()},
                 solid=True, encode_header=True)
        args = SimpleNamespace(infile=str(ar), member="regions.geojson",
                               name="z", crs="EPSG:4326", attrs="",
                               id_property="region_id",
                               prepared=str(tmp_path / "prep"))
        prepare_regions_job(spark, args)
        prep = load_prepared("z", tmp_path / "prep")
        assert prep.n_regions == 1 and "Z1" in prep.geoms


class TestIngestScript:
    def test_paginate_merges_pages(self):
        import sys
        sys.path.insert(0, "/root/repo/scripts")
        from fetch_ons_geojson import paginate

        pages = {
            0: {"features": [{"id": 1}, {"id": 2}],
                "exceededTransferLimit": True},
            2: {"features": [{"id": 3}], "exceededTransferLimit": False},
        }

        def fake_fetch(url):
            off = int(url.split("resultOffset=")[1].split("&")[0])
            return pages[off]

        fc = paginate("https://x/query?f=geojson", fetch=fake_fetch,
                      page_size=2)
        assert [f["id"] for f in fc["features"]] == [1, 2, 3]

    def test_retry_then_success(self):
        import sys
        sys.path.insert(0, "/root/repo/scripts")
        from fetch_ons_geojson import fetch_with_retry

        calls = []

        def flaky(url):
            calls.append(url)
            if len(calls) < 3:
                raise OSError("boom")
            return {"ok": True}

        assert fetch_with_retry("u", fetch=flaky, backoff=0.0) == {"ok": True}
        assert len(calls) == 3
        with pytest.raises(RuntimeError, match="3 attempts"):
            fetch_with_retry("u", fetch=lambda u: (_ for _ in ()).throw(
                OSError("always")), backoff=0.0)
