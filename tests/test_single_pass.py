"""geocode_pages' single-pass pieces: lineage row counts observed on the
write itself and the prefix dimension built in one aggregation."""

import struct

import pyspark.sql.functions as F


def _bucket_rows(spark, out, b):
    d = out / f"bucket={b}"
    return spark.read.parquet(str(d)).count() if d.exists() else 0


class TestObservedLineageCounts:
    def test_manifest_rows_match_written_buckets(self, spark, tmp_path):
        from geocode_spark.plans.lineage import read_lineage, run_with_lineage

        # 3 distinct keys over 8 buckets: at least 5 buckets get no rows;
        # 4 input partitions so every bucket's count sums several tasks
        df = spark.range(300).repartition(4).withColumn("k", F.col("id") % 3)
        out = tmp_path / "observed_out"
        res = run_with_lineage(df, out, key_col="k", n_buckets=8,
                               snapshot_id="s1")
        want = {b: _bucket_rows(spark, out, b) for b in range(8)}
        assert sum(want.values()) == 300
        assert 0 in want.values()
        assert {r.bucket: r.rows for r in res} == want
        assert {m["bucket"]: m["rows"]
                for m in read_lineage(out, spark=spark)} == want

        # resume recomputing a subset: one filled bucket, one empty one
        full = next(b for b, n in want.items() if n)
        empty = next(b for b, n in want.items() if not n)
        for b in (full, empty):
            (out / "_lineage" / f"bucket={b}.json").unlink()
        res = run_with_lineage(df, out, key_col="k", n_buckets=8,
                               snapshot_id="s1")
        assert sorted(r.bucket for r in res if not r.skipped) == \
            sorted([full, empty])
        assert {r.bucket: r.rows for r in res} == want
        assert {b: _bucket_rows(spark, out, b) for b in range(8)} == want
        assert {m["bucket"]: m["rows"]
                for m in read_lineage(out, spark=spark)} == want

    def test_empty_input_counts_zero(self, spark, tmp_path):
        from geocode_spark.plans.lineage import run_with_lineage

        df = spark.range(0).withColumn("k", F.col("id"))
        res = run_with_lineage(df, tmp_path / "empty_out", key_col="k",
                               n_buckets=4, snapshot_id="s1")
        assert [(r.bucket, r.rows) for r in res] == [(b, 0) for b in range(4)]


def _old_prefix_dim(cpo, max_len=3):
    """The four-groupBy + unionByName formulation prefix_dim replaced."""
    parts = []
    for L in range(0, max_len + 1):
        parts.append(
            cpo.groupBy(
                F.col("outward_postcode").alias("__ow"),
                F.substring("inward_postcode", 1, L).alias("__iw") if L > 0
                else F.lit("").alias("__iw"),
            ).agg(F.avg("latitude").alias("__lat2"),
                  F.avg("longitude").alias("__lon2"))
            .withColumn("__iwlen", F.lit(L))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _exact_rows(df):
    """Rows keyed on (__ow, __iw, __iwlen), doubles as their IEEE bytes."""
    def bits(x):
        return None if x is None else struct.pack("<d", x)

    rows = [(r["__ow"], r["__iw"], r["__iwlen"], bits(r["__lat2"]),
             bits(r["__lon2"])) for r in df.collect()]
    return sorted(rows, key=lambda t: tuple(
        (v is None, v if v is not None else 0) for v in t[:3]))


class TestPrefixDimOneAggregation:
    def test_matches_union_of_groupbys_on_fixture(self, spark, fixture_dir):
        from geocode_spark.operators.forward_geocode import (prefix_dim,
                                                             prepare_cpo)

        cpo = prepare_cpo(spark.read.parquet(
            str(fixture_dir / "cpo_raw.parquet"))).repartition(4).cache()
        try:
            new = _exact_rows(prefix_dim(cpo))
            assert new == _exact_rows(_old_prefix_dim(cpo))
            assert len({r[:3] for r in new}) == len(new)  # 1:1 join keys
        finally:
            cpo.unpersist()

    def test_short_and_null_inward_codes(self, spark):
        from geocode_spark.operators.forward_geocode import prefix_dim

        cpo = spark.createDataFrame(
            [("AB1", "2CD", 51.1, -1.1), ("AB1", "2CE", 51.2, None),
             ("AB1", "2C", 51.3, -1.3),    # inward shorter than 3
             ("ZZ", "9", 52.0, -2.0), ("ZZ", None, 53.0, -3.0),
             (None, None, 54.0, -4.0)],
            "outward_postcode string, inward_postcode string, "
            "latitude double, longitude double").repartition(3).cache()
        try:
            assert _exact_rows(prefix_dim(cpo)) == \
                _exact_rows(_old_prefix_dim(cpo))
        finally:
            cpo.unpersist()

