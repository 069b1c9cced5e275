"""Round-3 additions: filesystem-agnostic lineage (Hadoop FS API),
n_buckets lineage identity, simhash bucket cap, O(d) cosine normalization,
NULL-embedding safety in the bucketed path, null-aware row keys,
version-sweep cache clearing."""

import json

import pytest
import pyspark.sql.functions as F


class TestFsAgnosticLineage:
    def test_file_uri_out_dir(self, spark, tmp_path):
        """The lineage layer must accept a scheme-qualified URI out_dir —
        the shape a real hdfs:///s3a:// deployment passes. file:/ exercises
        the identical Hadoop FileSystem code path."""
        from geocode_spark.plans.lineage import read_lineage, run_with_lineage

        df = spark.range(200).withColumn("k", F.col("id") % 10)
        out = f"file:{tmp_path}/lineage_uri_out"
        r1 = run_with_lineage(df, out, key_col="id", n_buckets=4,
                              snapshot_id="s1")
        assert sum(r.rows for r in r1) == 200
        r2 = run_with_lineage(df, out, key_col="id", n_buckets=4,
                              snapshot_id="s1")
        assert all(r.skipped for r in r2)
        manifests = read_lineage(out, spark=spark)
        assert len(manifests) == 4
        assert all(m["n_buckets"] == 4 for m in manifests)
        # row totals must agree with a read of the output
        assert spark.read.parquet(out).count() == 200

    def test_n_buckets_change_invalidates_fully(self, spark, tmp_path):
        """Shrinking n_buckets must retract EVERY prior bucket (ids beyond
        the new count included) — otherwise a parquet read of the out_dir
        double-counts rows from the old partitioning."""
        from geocode_spark.plans.lineage import read_lineage, run_with_lineage

        df = spark.range(300).withColumn("k", F.col("id") % 10)
        out = tmp_path / "rebucket_out"
        run_with_lineage(df, out, key_col="id", n_buckets=8,
                         snapshot_id="s1")
        assert spark.read.parquet(str(out)).count() == 300
        r2 = run_with_lineage(df, out, key_col="id", n_buckets=3,
                              snapshot_id="s1")
        # full invalidation: nothing may be "resumed" across a re-bucket
        assert not any(r.skipped for r in r2)
        assert sum(r.rows for r in r2) == 300
        # no stale bucket >= 3 survives, on disk or in manifests
        assert spark.read.parquet(str(out)).count() == 300
        manifests = read_lineage(out, spark=spark)
        assert sorted(m["bucket"] for m in manifests) == [0, 1, 2]
        assert all(m["n_buckets"] == 3 for m in manifests)
        stale = [p for p in (tmp_path / "rebucket_out").iterdir()
                 if p.name.startswith("bucket=") and int(p.name[7:]) >= 3]
        assert stale == []

    def test_torn_manifest_recomputes_bucket(self, spark, tmp_path):
        """A manifest truncated by a crash mid-write is an UNCOMMITTED
        bucket: the next run retracts it and recomputes, instead of the
        resume machinery dying on JSONDecodeError forever."""
        from geocode_spark.plans.lineage import read_lineage, run_with_lineage

        df = spark.range(200).withColumn("k", F.col("id") % 10)
        out = tmp_path / "torn_out"
        run_with_lineage(df, out, key_col="id", n_buckets=4,
                         snapshot_id="s1")
        (out / "_lineage" / "bucket=2.json").write_text('{"bucket": 2, "n')
        r = run_with_lineage(df, out, key_col="id", n_buckets=4,
                             snapshot_id="s1")
        assert sorted(b.bucket for b in r if not b.skipped) == [2]
        assert spark.read.parquet(str(out)).count() == 200
        assert len(read_lineage(out, spark=spark)) == 4

    def test_orphan_bucket_dirs_swept(self, spark, tmp_path):
        """Data dirs with NO manifest — a run that crashed before
        committing anything, including bucket ids beyond the current
        n_buckets — are swept on the next run, so a parquet read of the
        out_dir can never double-count them."""
        from geocode_spark.plans.lineage import run_with_lineage

        df = spark.range(120).withColumn("k", F.col("id") % 10)
        out = tmp_path / "orphan_out"
        run_with_lineage(df, out, key_col="id", n_buckets=3,
                         snapshot_id="s1")
        # fake a crashed 8-bucket run's leftovers: data dir, no manifest
        spark.range(50).withColumn("k", F.col("id") % 10) \
            .write.parquet(str(out / "bucket=7"))
        assert spark.read.parquet(str(out)).count() == 170  # the hazard
        r = run_with_lineage(df, out, key_col="id", n_buckets=3,
                             snapshot_id="s1")
        assert all(b.skipped for b in r)  # committed buckets untouched
        assert not (out / "bucket=7").exists()
        assert spark.read.parquet(str(out)).count() == 120

    def test_read_manifest_retry_discipline(self):
        """Transient I/O failures retry then RAISE (never retract
        committed state); corruption (parse error / persistent checksum /
        EOF over a size-stable object) reads as torn -> None. EOF alone is
        NOT trusted: s3a wraps connection resets in EOFException, so it
        must survive retries AND a stability probe before being torn."""
        from geocode_spark.plans.lineage import _read_manifest

        class Flaky:
            def __init__(self, fails, exc, sizes=(10, 10)):
                self.fails, self.exc, self.calls = fails, exc, 0
                self._sizes = list(sizes)

            def read_text(self):
                self.calls += 1
                if self.calls <= self.fails:
                    raise self.exc
                return '{"bucket": 1}'

            def size(self):
                return self._sizes.pop(0) if len(self._sizes) > 1 \
                    else self._sizes[0]

        # two transient failures, third attempt succeeds
        ok = Flaky(2, RuntimeError("503 Slow Down"))
        assert _read_manifest(ok) == {"bucket": 1} and ok.calls == 3
        # persistent transient failure surfaces the error
        with pytest.raises(RuntimeError, match="503"):
            _read_manifest(Flaky(99, RuntimeError("503 Slow Down")))
        # an EOF blip that recovers on retry is transient, not torn
        eof_blip = Flaky(1, RuntimeError("java.io.EOFException"))
        assert _read_manifest(eof_blip) == {"bucket": 1}
        # persistent corruption over a size-stable object -> torn
        assert _read_manifest(
            Flaky(99, RuntimeError("org.apache.hadoop.fs.ChecksumException:"
                                   " Checksum error"))) is None
        assert _read_manifest(
            Flaky(99, RuntimeError("java.io.EOFException"))) is None
        # persistent EOF but the object is still growing: surface the
        # error (someone is writing — do not retract)
        with pytest.raises(RuntimeError, match="EOFException"):
            _read_manifest(Flaky(99, RuntimeError("java.io.EOFException"),
                                 sizes=(10, 20, 20)))
        # persistent EOF and the object cannot even be stat'ed: raise

        class NoStat(Flaky):
            def size(self):
                raise RuntimeError("stat failed")

        with pytest.raises(RuntimeError, match="EOFException"):
            _read_manifest(NoStat(99, RuntimeError("java.io.EOFException")))

    def test_fspath_footer_rows_matches_count(self, spark, tmp_path):
        """Footer-metadata row counts through the positional-read file-like
        must equal a real count, over multiple files."""
        from geocode_spark.plans.fsio import FsPath

        out = tmp_path / "footer_out"
        spark.range(1000).repartition(4).write.parquet(str(out))
        fp = FsPath(spark, str(out))
        names = fp.list_names("*.parquet")
        assert len(names) == 4
        assert sum(fp.child(n).parquet_file_rows() for n in names) == 1000


class TestSimhashBucketCap:
    def test_hot_chunk_bucket_is_bounded(self, spark):
        """A deliberately hot (chunk_pos, chunk) bucket must be dropped by
        max_bucket_size instead of exploding quadratically — mirror of the
        LSH stop-bucket test. 40 docs share simhash chunk0; uncapped they
        produce C(40,2)=780 pairs, capped they may only pair through other
        chunks."""
        from geocode_spark.operators.dedup import simhash_near_pairs

        # identical low 16 bits (chunk 0), distinct elsewhere and far apart
        rows = [(i, (i << 16) | 0xBEEF) for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, simhash long")
        uncapped = simhash_near_pairs(df, max_hamming=64).count()
        assert uncapped == 780
        capped = simhash_near_pairs(df, max_hamming=64,
                                    max_bucket_size=10).count()
        assert capped < 780
        # pairs recovered via other chunks only: none here (all distinct)
        assert capped == 0

    def test_cap_noop_at_small_scale(self, spark):
        """At fixture scale the cap must be a no-op (driver query output
        unchanged)."""
        from geocode_spark.operators.dedup import simhash, simhash_near_pairs

        docs = [(i, f"the quick brown fox jumps over dog {i % 5}")
                for i in range(30)]
        df = simhash(spark.createDataFrame(docs, "doc_id long, text string"))
        base = {(r.id_a, r.id_b) for r in
                simhash_near_pairs(df, max_hamming=3).collect()}
        capped = {(r.id_a, r.id_b) for r in
                  simhash_near_pairs(df, max_hamming=3,
                                     max_bucket_size=1000).collect()}
        assert base == capped


class TestCosinePairsRound3:
    def test_null_embeddings_tolerated_in_bucketed(self, spark):
        """A NULL embedding must not crash the bucketed path (np.stack over
        a None vector) — it can never clear the threshold, so it is dropped
        before the sketch."""
        from geocode_spark.operators.dedup import embedding_cosine_pairs

        rows = [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.01, 0.0]), (2, None),
                (3, [0.0, 1.0, 0.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        exact = embedding_cosine_pairs(df, threshold=0.99, method="exact")
        bucketed = embedding_cosine_pairs(df, threshold=0.99,
                                          method="bucketed", dim=3, bits=4)
        e = {(r.id_a, r.id_b) for r in exact.collect()}
        b = {(r.id_a, r.id_b) for r in bucketed.collect()}
        assert e == {(0, 1)}
        assert b <= e  # bucketed recall <= exact, never a crash

    def test_norm_aggregate_hoisted_once(self, spark):
        """The norm must appear as ONE aggregate per row, not one per
        vector element: the optimized plan must not contain the aggregate
        nested inside the transform lambda."""
        from geocode_spark.operators.dedup import embedding_cosine_pairs

        df = spark.createDataFrame([(0, [3.0, 4.0]), (1, [0.6, 0.8])],
                                   "vec_id long, embedding array<double>")
        pairs = embedding_cosine_pairs(df, threshold=0.9, method="exact")
        plan = pairs._jdf.queryExecution().optimizedPlan().toString()
        # inside any lambdafunction(...) body there must be no aggregate(
        for frag in plan.split("lambdafunction(")[1:]:
            body = frag.split(", lambda", 1)[0]
            assert "aggregate(" not in body, (
                "norm aggregate re-nested inside a transform lambda "
                "(O(d^2) per row):\n" + plan)
        got = pairs.collect()
        assert len(got) == 1 and got[0].cosine == pytest.approx(1.0)

    def test_auto_probe_is_bounded(self, spark):
        """auto must decide via a bounded limit-probe, not a full count —
        asserted by behavior: tiny max_exact_rows routes to bucketed."""
        from geocode_spark.operators.dedup import embedding_cosine_pairs

        rows = [(i, [1.0, float(i % 7) / 10, 0.0]) for i in range(50)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = embedding_cosine_pairs(df, threshold=0.999, method="auto",
                                     max_exact_rows=10, dim=3, bits=2)
        # bucketed branch selected and runs clean; pairs verify >= threshold
        assert all(r.cosine >= 0.999 for r in out.collect())


class TestNullAwareRowKey:
    def test_null_shift_changes_key(self, spark, fixture_dir):
        """Two rows whose hash-input VALUES coincide once a NULL shifts
        columns must not share a row key (ADVICE round 2): each gets its
        own region assignment under strategy='join'."""
        from geocode_spark.regions import load_prepared
        from geocode_spark.operators.reverse_geocode import reverse_geocode

        prep = load_prepared("llsoa", fixture_dir / "prepared")
        # aux columns engineered so skipping a NULL aligns the remaining
        # values: (a=NULL, b=7) vs (a=7, b=NULL) hash identical value
        # streams without null markers
        df = spark.createDataFrame(
            [(0, 51.575, -0.065, None, 7),
             (1, 51.575, -0.065, 7, None)],
            "row_id long, latitude double, longitude double, a long, b long")
        out = reverse_geocode(df, prep, strategy="join").collect()
        assert len(out) == 2
        assert {r.row_id for r in out} == {0, 1}
        # both resolve (same coordinates), each exactly once
        assert all(r.region_id == "E01002050" for r in out)


class TestFacadeRound3:
    def test_context_manager(self, spark, fixture_dir):
        """geocode.py:87-91 parity: with-statement drop-in."""
        from geocode_spark.geocoder import GeocoderSpark

        with GeocoderSpark(spark, data_dir=str(fixture_dir)) as g:
            lat, lon = g.geocode_llsoa_list("E01012082")
            assert lat == pytest.approx(54.5478, abs=1e-3)
        assert g._preps == {}  # exit released the prepared handles

    def test_scalar_or_list_helpers(self, spark, fixture_dir):
        """ons_nrs.py:348-349/423-424/454-455 parity: a scalar in gives a
        scalar out, an iterable gives a list, order preserved."""
        from geocode_spark.geocoder import GeocoderSpark

        g = GeocoderSpark(spark, data_dir=str(fixture_dir))
        one = g.geocode_constituency_list("Aldershot")
        assert one == (pytest.approx(51.288952), pytest.approx(-0.7841))
        many = g.geocode_constituency_list(["Blyth Valley", "Aldershot"])
        assert len(many) == 2 and many[1] == one
        lad = g.geocode_local_authority_list("Medway")
        assert lad == (pytest.approx(51.44772), pytest.approx(0.56317401))
        lads = g.geocode_local_authority_list(["Medway", "Medway"])
        assert lads == [lad, lad]

    def test_reverse_geocode_nuts_list(self, spark, fixture_dir):
        from geocode_spark.geocoder import GeocoderSpark

        g = GeocoderSpark(spark, data_dir=str(fixture_dir))
        out = g.reverse_geocode_nuts_list([(54.5478, -1.1956)], level=3)
        assert len(out) == 1
        assert out[0] is None or out[0].startswith("UK")


class TestIcebergCommitDurability:
    def test_torn_version_hint_falls_back(self, spark, tmp_path):
        """An empty/garbage version-hint (torn write on a weak filesystem)
        must degrade to the newest-metadata scan, not brick the table."""
        from geocode_spark.sources import iceberg

        tbl = tmp_path / "tbl"
        df = spark.range(7).select(F.col("id").alias("url"))
        iceberg.write_iceberg(spark, df, tbl)
        hint = tbl / "metadata" / "version-hint.text"
        assert hint.read_text().strip() == "1"
        hint.write_text("")
        assert iceberg.is_iceberg_table(spark, tbl)
        assert iceberg.current_snapshot_id(spark, tbl) == 1
        assert iceberg.read_iceberg(spark, tbl).count() == 7
        # and the next commit repairs the hint
        iceberg.write_iceberg(spark, df, tbl, mode="append")
        assert hint.read_text().strip() == "2"


class TestReadPagesFallbackDiscipline:
    def test_snapshot_pin_on_plain_parquet_raises(self, spark, tmp_path):
        """A snapshot_id that cannot be honored must raise, never silently
        read the full parquet path (the pinned-snapshot contract lineage
        resume depends on)."""
        from geocode_spark.sources.loaders import read_pages

        pq = tmp_path / "plain"
        spark.range(5).write.parquet(str(pq))
        assert read_pages(spark, str(pq)).count() == 5
        with pytest.raises(ValueError, match="snapshot_id"):
            read_pages(spark, str(pq), snapshot_id=1)

    def test_missing_snapshot_on_iceberg_table_raises(self, spark, tmp_path):
        """Runtime absent here, so the metadata-layer reader serves the
        table — and a nonexistent snapshot is an IcebergError, not a
        fallback to reading whatever parquet lies under the path."""
        from geocode_spark.sources import iceberg
        from geocode_spark.sources.loaders import read_pages

        tbl = tmp_path / "tbl"
        df = spark.range(5).select(F.col("id").alias("url"))
        iceberg.write_iceberg(spark, df, tbl)
        assert read_pages(spark, str(tbl)).count() == 5
        with pytest.raises(iceberg.IcebergError, match="not found"):
            read_pages(spark, str(tbl), snapshot_id=99).count()


class TestClearPreparedVersionSweep:
    def test_keep_version_spares_unversioned(self, tmp_path):
        """--keep-version is a stale-VERSION sweep: unversioned prepared
        sets must survive it (ADVICE round 2)."""
        from geocode_spark.sources.loaders import clear_prepared

        for name in ["llsoa", "dno", "gsp_20181031", "gsp_20220314",
                     "nuts_2016", "nuts_2021"]:
            (tmp_path / name).mkdir()
        removed = clear_prepared(tmp_path, keep_version="20220314")
        assert sorted(removed) == ["gsp_20181031", "nuts_2016", "nuts_2021"]
        assert (tmp_path / "llsoa").exists()
        assert (tmp_path / "dno").exists()
        assert (tmp_path / "gsp_20220314").exists()
        # without keep_version the sweep still clears everything
        removed_all = clear_prepared(tmp_path)
        assert sorted(removed_all) == ["dno", "gsp_20220314", "llsoa"]
