"""Round-4 regression tests: IVF sample bias, minhash cache lifecycle,
Iceberg optimistic-concurrency commits, stale-hint healing, legacy lineage
manifests, the lifetime of a prepared set's broadcast."""

import gc
import json

import numpy as np
import pytest
import pyspark.sql.functions as F


def _persistent_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


class TestIvfTrainSample:
    def test_sample_drawn_across_partitions(self, spark):
        """_train_vectors must not take its sample from whichever partition
        answers first: a corpus whose FIRST partition holds only marker-A
        vectors and whose last holds marker-B must yield both markers in a
        small sample (limit() alone returns all-A)."""
        from geocode_spark.operators.similarity import _train_vectors

        rows = [(i, [1.0, 0.0] if i < 500 else [0.0, 1.0])
                for i in range(1000)]
        df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>") \
                  .repartitionByRange(4, "vec_id")
        sample = _train_vectors(df, "embedding", "vec_id", 32)
        assert sample.shape == (32, 2)
        markers = set(sample.argmax(axis=1).tolist())
        assert markers == {0, 1}, "sample came from one corner of the corpus"

    def test_sample_is_deterministic(self, spark):
        from geocode_spark.operators.similarity import _train_vectors

        rows = [(i, [float(i), float(i % 7)]) for i in range(300)]
        df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
        a = _train_vectors(df, "embedding", "vec_id", 16)
        b = _train_vectors(df.repartition(7), "embedding", "vec_id", 16)
        assert (a == b).all(), "sample must not depend on partitioning"


class TestMinhashCacheLifecycle:
    def test_signature_cache_is_bounded_and_clearable(self, spark):
        """Signature blocks live in a bounded FIFO: repeated calls over
        DISTINCT corpora hold at most _SIG_CACHE_SIZE cached sets (older
        ones unpersisted on admission), and clear_signature_cache() empties
        everything. Crucially the cache must survive the caller CHAINING
        off the lazy result and dropping the handle — the round-4 review
        found a result-handle finalizer unpersisted before the first
        action ever ran."""
        from geocode_spark.operators.dedup import (_SIG_CACHE_SIZE,
                                                   clear_signature_cache,
                                                   minhash_dedup_pairs)

        clear_signature_cache()
        before = _persistent_ids(spark)
        for k in range(_SIG_CACHE_SIZE + 3):
            docs = spark.createDataFrame(
                [(i, f"corpus {k} doc text number {i % 5} quick brown fox")
                 for i in range(30)], "doc_id: long, text: string")
            # chain + drop the handle BEFORE acting, like real callers do
            chained = minhash_dedup_pairs(
                docs, threshold=0.1, num_hashes=16, bands=4,
                rows_per_band=4, shingle_k=3).select("id_a", "id_b")
            chained.count()
            del chained
            gc.collect()
            extra = _persistent_ids(spark) - before
            assert len(extra) <= _SIG_CACHE_SIZE, \
                f"cache exceeded bound after call {k}: {len(extra)} blocks"
        assert len(_persistent_ids(spark) - before) == _SIG_CACHE_SIZE
        clear_signature_cache()
        assert _persistent_ids(spark) - before == set(), \
            "clear_signature_cache must free every block"


class TestIcebergConcurrency:
    def _mk(self, spark, tmp_path, tag, n=10):
        return spark.range(n).withColumn("tag", F.lit(tag))

    def test_commit_conflict_retries_and_preserves_winner(
            self, spark, tmp_path, monkeypatch):
        """A committer that raced from a stale base version must NOT
        clobber the winner's metadata file: the rename fails, the commit
        re-derives against the advanced table and lands as the next
        version, with all three snapshots readable."""
        import geocode_spark.sources.iceberg as ib

        table = str(tmp_path / "tbl")
        s1 = ib.write_iceberg(spark, self._mk(spark, tmp_path, "a"), table)
        s2 = ib.write_iceberg(spark, self._mk(spark, tmp_path, "b"), table)

        real = ib._current_version
        calls = {"n": 0}

        def stale_once(meta):
            calls["n"] += 1
            v = real(meta)
            # first derivation pretends the winner's commit (v at HEAD)
            # hasn't been seen — exactly the state of a racing committer
            return v - 1 if calls["n"] == 1 else v

        monkeypatch.setattr(ib, "_current_version", stale_once)
        s3 = ib.write_iceberg(spark, self._mk(spark, tmp_path, "c"), table)
        monkeypatch.undo()

        assert calls["n"] >= 2, "conflict should force a re-derivation"
        snaps = ib.snapshots(spark, table)
        assert sorted(int(s["snapshot-id"]) for s in snaps) == [s1, s2, s3]
        # winner's snapshot (s2) must still be intact and time-travelable
        assert ib.read_iceberg(spark, table, s2).count() == 20
        assert ib.read_iceberg(spark, table).count() == 30
        # the conflicted attempt must not have left a half-committed
        # metadata json in place of any real version
        meta = ib._meta_dir(spark, table)
        for name in meta.list_names("v*.metadata.json"):
            json.loads(meta.child(name).read_text())

    def test_stale_hint_is_probed_upward(self, spark, tmp_path):
        """A hint left behind by an out-of-order flip must not hide a
        committed snapshot: _current_version walks to the newest
        v<N>.metadata.json."""
        import geocode_spark.sources.iceberg as ib

        table = str(tmp_path / "tbl2")
        ib.write_iceberg(spark, self._mk(spark, tmp_path, "a"), table)
        s2 = ib.write_iceberg(spark, self._mk(spark, tmp_path, "b"), table)
        meta = ib._meta_dir(spark, table)
        meta.child("version-hint.text").write_text("1")  # stale
        assert ib._current_version(meta) == 2
        assert ib.current_snapshot_id(spark, table) == s2
        assert ib.read_iceberg(spark, table).count() == 20


class TestLegacyLineageManifests:
    def test_missing_n_buckets_field_matches(self, spark, tmp_path):
        """Manifests written before n_buckets entered the identity have no
        n_buckets field; resuming with an unchanged bucket count must skip
        them, not retract the whole run."""
        from geocode_spark.plans.fsio import FsPath
        from geocode_spark.plans.lineage import run_with_lineage

        df = spark.range(120).withColumn("k", F.col("id") % 6)
        out = str(tmp_path / "legacy_out")
        run_with_lineage(df, out, key_col="id", n_buckets=3,
                         snapshot_id="s1")
        ldir = FsPath(spark, out).child("_lineage")
        for name in ldir.list_names("bucket=*.json"):
            mp = ldir.child(name)
            m = json.loads(mp.read_text())
            m.pop("n_buckets")
            mp.write_text(json.dumps(m))
        r = run_with_lineage(df, out, key_col="id", n_buckets=3,
                             snapshot_id="s1")
        assert all(b.skipped for b in r), \
            "legacy manifests must resume, not invalidate"
        # the resume must have BACKFILLED the field...
        for name in ldir.list_names("bucket=*.json"):
            assert json.loads(ldir.child(name).read_text())["n_buckets"] == 3
        # ...so a LATER real bucket-count change still invalidates fully
        r2 = run_with_lineage(df, out, key_col="id", n_buckets=4,
                              snapshot_id="s1")
        assert not any(b.skipped for b in r2)
        assert spark.read.parquet(out).count() == 120


class TestMissingRuntimeClassifier:
    def test_error_shapes(self):
        from geocode_spark.sources.loaders import _is_missing_runtime

        assert _is_missing_runtime(
            RuntimeError("[DATA_SOURCE_NOT_FOUND] Failed to find the data "
                         "source: iceberg."))
        assert _is_missing_runtime(
            RuntimeError("java.lang.ClassNotFoundException: Failed to find "
                         "data source: iceberg"))
        assert not _is_missing_runtime(
            RuntimeError("Cannot find snapshot with ID 42"))

        class WithClass(Exception):
            def getErrorClass(self):
                return "DATA_SOURCE_NOT_FOUND"

        class OtherClass(Exception):
            def getErrorClass(self):
                return "TABLE_OR_VIEW_NOT_FOUND"

        assert _is_missing_runtime(WithClass("boom"))
        assert not _is_missing_runtime(OtherClass("boom"))


class TestPipelineFixedCostCuts:
    """Round-4 scaling work: the profiled pipeline serial floor was (a) the
    CPO dimension re-aggregation per forward_geocode call and (b) a second
    full Arrow pass for the second reverse_geocode. Both cuts must be
    EXACTLY result-preserving."""

    def test_forward_geocode_dims_reuse_parity(self, spark, fixture_dir):
        from geocode_spark.operators.forward_geocode import (
            forward_geocode, prepare_cpo, prepare_dims)

        cpo = prepare_cpo(
            spark.read.parquet(str(fixture_dir / "cpo_raw.parquet")))
        pcs = spark.createDataFrame(
            [("RG1 3PE",), ("rg1 3pe",), ("ZZ99 9ZZ",), ("RG1",),
             (None,), ("SW1A 1AA",)], "postcode: string")
        base = forward_geocode(pcs, cpo).collect()
        dims = prepare_dims(cpo)
        reused = forward_geocode(pcs, cpo, dims=dims).collect()
        key = lambda r: (r.postcode or "",)
        assert sorted(base, key=key) == sorted(reused, key=key)

    def test_reverse_geocode_multi_matches_chained(self, spark, fixture_dir):
        import pyspark.sql.functions as FF

        from geocode_spark.operators.reverse_geocode import (
            reverse_geocode, reverse_geocode_multi)
        from geocode_spark.regions import load_prepared

        llsoa = load_prepared("llsoa", fixture_dir / "prepared")
        gsp = load_prepared("gsp", fixture_dir / "prepared")
        sq = spark.read.parquet(str(fixture_dir / "llsoa_regions.parquet"))
        pts = (spark.range(4000)
               .select(FF.col("id").alias("row_id"),
                       (FF.col("id") % 6).alias("sqi"),
                       ((FF.col("id") % 211) / 211.0).alias("fx"),
                       ((FF.col("id") % 199) / 199.0).alias("fy"))
               .join(FF.broadcast(sq), FF.col("sqi") == sq["region_seq"],
                     "left")
               .select("row_id",
                       (FF.col("ymin") + FF.col("fy")
                        * (FF.col("ymax") - FF.col("ymin"))).alias("latitude"),
                       (FF.col("xmin") + FF.col("fx")
                        * (FF.col("xmax") - FF.col("xmin"))).alias("longitude")))
        chained = reverse_geocode(
            reverse_geocode(pts, llsoa, out_col="llsoa", keep_cell=True),
            gsp, out_col="gsp")
        multi = reverse_geocode_multi(
            pts, [(llsoa, "llsoa"), (gsp, "gsp")], keep_cell=True)
        a = {r.row_id: (r.llsoa, r.gsp, r.cell_id) for r in chained.collect()}
        b = {r.row_id: (r.llsoa, r.gsp, r.cell_id) for r in multi.collect()}
        assert a == b and len(a) == 4000

    def test_multi_with_knn_fallback_matches_chained(self, spark,
                                                     fixture_dir):
        import pyspark.sql.functions as FF

        from geocode_spark.operators.reverse_geocode import (
            reverse_geocode, reverse_geocode_multi)
        from geocode_spark.regions import load_prepared

        llsoa = load_prepared("llsoa", fixture_dir / "prepared")
        # points just OUTSIDE the squares: only the kNN fallback assigns
        pts = spark.createDataFrame(
            [(0, 53.905, -1.205), (1, 53.999, -1.40), (2, 10.0, 10.0)],
            "row_id: long, latitude: double, longitude: double")
        opts = {"max_distance": 20000.0, "distance_unit": "m"}
        chained = reverse_geocode(pts, llsoa, max_distance=20000.0,
                                  distance_unit="m")
        multi = reverse_geocode_multi(pts, [(llsoa, "region_id", opts)])
        a = {r.row_id: r.region_id for r in chained.collect()}
        b = {r.row_id: r.region_id for r in multi.collect()}
        assert a == b
        assert a[2] is None  # far point stays unassigned

    def test_geocode_documents_schema_unchanged(self, spark, fixture_dir):
        from geocode_spark.operators.forward_geocode import (prepare_cpo,
                                                             prepare_dims)
        from geocode_spark.operators.pipeline import geocode_documents
        from geocode_spark.regions import load_prepared

        cpo = prepare_cpo(
            spark.read.parquet(str(fixture_dir / "cpo_raw.parquet")))
        llsoa = load_prepared("llsoa", fixture_dir / "prepared")
        gsp = load_prepared("gsp", fixture_dir / "prepared")
        pages = spark.read.parquet(str(fixture_dir / "pages.parquet")) \
            .limit(100)
        out = geocode_documents(pages, prepare_dims(cpo), llsoa, gsp)
        # the chained-call column order is the public schema; the fused
        # multi path must not reorder it
        # (postcode leads after gsp: geocode_documents selects it first)
        assert out.columns == [
            "gsp", "postcode", "url", "warc_ts", "lang", "latitude",
            "longitude", "match_status", "llsoa", "cell_id", "tile_id",
            "gsp_group"]
        assert out.count() > 0

    def test_geocode_documents_column_lists(self, spark, fixture_dir):
        """Every prep combination keeps the chained-call column order, and
        single-set values equal a direct reverse_geocode of the same
        forward-geocoded mentions."""
        from collections import Counter

        from geocode_spark.operators.forward_geocode import (forward_geocode,
                                                             prepare_cpo,
                                                             prepare_dims)
        from geocode_spark.operators.pipeline import (
            extract_postcode_mentions, geocode_documents)
        from geocode_spark.operators.reverse_geocode import reverse_geocode
        from geocode_spark.regions import load_prepared

        cpo = prepare_cpo(
            spark.read.parquet(str(fixture_dir / "cpo_raw.parquet")))
        llsoa = load_prepared("llsoa", fixture_dir / "prepared")
        gsp = load_prepared("gsp", fixture_dir / "prepared")
        pages = spark.read.parquet(str(fixture_dir / "pages.parquet")) \
            .where(F.xxhash64("url") % 20 == 0)
        base = ["postcode", "url", "warc_ts", "lang", "latitude",
                "longitude", "match_status"]
        want = {
            (True, True): ["gsp", *base, "llsoa", "cell_id", "tile_id",
                           "gsp_group"],
            (True, False): [*base, "llsoa", "cell_id", "tile_id"],
            (False, True): ["gsp", *base, "gsp_group"],
            (False, False): base,
        }
        outs = {}
        for (use_llsoa, use_gsp), cols in want.items():
            out = geocode_documents(pages, prepare_dims(cpo),
                                    llsoa if use_llsoa else None,
                                    gsp if use_gsp else None)
            assert out.columns == cols, (use_llsoa, use_gsp)
            outs[use_llsoa, use_gsp] = out

        geo = forward_geocode(extract_postcode_mentions(pages).select(
            "postcode", "url", "warc_ts", "lang"), cpo)
        direct_llsoa = reverse_geocode(geo, llsoa, out_col="llsoa",
                                       keep_cell=True)
        direct_gsp = reverse_geocode(geo, gsp, out_col="gsp")
        for out, direct in ((outs[True, False], direct_llsoa),
                            (outs[False, True], direct_gsp)):
            cols = [c for c in out.columns if c in direct.columns]
            got = Counter(map(tuple, out.select(cols).collect()))
            exp = Counter(map(tuple, direct.select(cols).collect()))
            assert got == exp and sum(got.values()) > 0
        assert any(r.llsoa is not None for r in
                   outs[True, False].select("llsoa").collect())
        assert any(r.gsp is not None for r in
                   outs[False, True].select("gsp").collect())

    def test_single_set_fused_contract(self, spark, fixture_dir):
        """Column list, types and NULL semantics of a single-set fused
        call with every option on: interior hit, metre kNN hit, a point
        beyond the bound, and non-finite / NULL coordinates."""
        from geocode_spark.cells import cell_of
        from geocode_spark.operators.reverse_geocode import reverse_geocode
        from geocode_spark.regions import load_prepared

        llsoa = load_prepared("llsoa", fixture_dir / "prepared")
        pts = spark.createDataFrame(
            [(0, 51.575, -0.065),       # inside E01002050
             (1, 51.575, -0.042),       # ~1246 m east of E01002050
             (2, 10.0, 10.0),           # no region within 2 km
             (3, float("nan"), -0.065),
             (4, 51.575, None)],
            "row_id long, latitude double, longitude double")
        out = reverse_geocode(pts, llsoa, keep_cell=True, keep_distance=True,
                              max_distance=2000.0, distance_unit="m",
                              output_cols=["row_id"])
        assert [(f.name, f.dataType.simpleString())
                for f in out.schema.fields] == [
            ("row_id", "bigint"), ("region_id", "string"),
            ("cell_id", "bigint"), ("knn_dist", "double")]
        rows = {r.row_id: r for r in out.collect()}
        assert len(rows) == 5
        assert rows[0].region_id == "E01002050"
        assert rows[0].knn_dist is None
        assert rows[0].cell_id == int(cell_of(
            np.array([51.575]), np.array([-0.065]), llsoa.res)[0])
        assert rows[1].region_id == "E01002050"
        assert rows[1].knn_dist == pytest.approx(1246.0, abs=5.0)
        assert rows[1].cell_id is not None
        assert rows[2].region_id is None and rows[2].knn_dist is None
        assert rows[2].cell_id is not None
        for i in (3, 4):
            assert (rows[i].region_id, rows[i].cell_id, rows[i].knn_dist) \
                == (None, None, None)


class TestPrepBroadcast:
    """A prepared set holds its own broadcast cover index: reused for the
    same prep and context, rebuilt for a fresh prep or another context,
    and freed with the prep (the module keeps no reference)."""

    def test_same_prep_and_context_reuse(self, spark, fixture_dir):
        from geocode_spark.operators import reverse_geocode as rg
        from geocode_spark.regions import load_prepared

        sc = spark.sparkContext
        llsoa = load_prepared("llsoa", fixture_dir / "prepared")
        assert rg._broadcast_index(sc, llsoa) \
            is rg._broadcast_index(sc, llsoa)

    def test_fresh_prep_gets_new_broadcast(self, spark, fixture_dir):
        from geocode_spark.operators import reverse_geocode as rg
        from geocode_spark.regions import load_prepared

        sc = spark.sparkContext
        a = rg._broadcast_index(sc, load_prepared("llsoa",
                                                  fixture_dir / "prepared"))
        b = rg._broadcast_index(sc, load_prepared("llsoa",
                                                  fixture_dir / "prepared"))
        assert a is not b

    def test_other_context_rebroadcasts(self, spark, fixture_dir):
        from geocode_spark.operators import reverse_geocode as rg
        from geocode_spark.regions import load_prepared

        class StubContext:
            def broadcast(self, value):
                self.sent = value
                return object()

        sc = spark.sparkContext
        llsoa = load_prepared("llsoa", fixture_dir / "prepared")
        real = rg._broadcast_index(sc, llsoa)
        stub = StubContext()
        other = rg._broadcast_index(stub, llsoa)
        assert other is not real
        assert isinstance(stub.sent, rg._CoverIndex)
        assert rg._broadcast_index(stub, llsoa) is other

    def test_dropped_prep_frees_broadcast(self, spark, fixture_dir):
        import weakref

        from geocode_spark.operators import reverse_geocode as rg
        from geocode_spark.regions import load_prepared

        llsoa = load_prepared("llsoa", fixture_dir / "prepared")
        ref = weakref.ref(rg._broadcast_index(spark.sparkContext, llsoa))
        gc.collect()
        assert ref() is not None, "the prep holds its broadcast"
        del llsoa
        gc.collect()
        assert ref() is None, "nothing else may pin a dropped prep's broadcast"

    def test_index_pickles_as_its_tables(self, fixture_dir):
        import pickle

        from geocode_spark.cells import cell_of
        from geocode_spark.operators import reverse_geocode as rg
        from geocode_spark.regions import load_prepared

        llsoa = load_prepared("llsoa", fixture_dir / "prepared")
        index = rg._CoverIndex(llsoa.cover, llsoa.geoms)
        back = pickle.loads(pickle.dumps(index))
        for name in ("cells", "starts", "cand_rid", "cand_seq",
                     "cand_interior", "rids"):
            np.testing.assert_array_equal(getattr(back, name),
                                          getattr(index, name))
        assert back.code == index.code and back.bbox == index.bbox
        rng = np.random.default_rng(7)
        boxes = np.array(index.bbox)   # points around every region
        pick = rng.integers(0, len(boxes), 2000)
        lon = rng.uniform(boxes[pick, 0], boxes[pick, 2])
        lat = rng.uniform(boxes[pick, 1], boxes[pick, 3])
        pcells = cell_of(lat, lon, llsoa.res)
        for got, want in zip(back.lookup(pcells), index.lookup(pcells)):
            np.testing.assert_array_equal(got, want)
        assert len(index.lookup(pcells)[0]) > 0
