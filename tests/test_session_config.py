"""Operators leave the session's SQL config as they found it: a setting
changed from inside an operator would silently re-plan every other query
the driver runs on the same SparkSession."""

import pyspark.sql.functions as F


def _chains(spark):
    nodes = spark.range(64).select(F.col("id").alias("doc_id"))
    pairs = (spark.range(63).filter((F.col("id") + 1) % 8 != 0)
             .select(F.col("id").alias("id_a"),
                     (F.col("id") + 1).alias("id_b"))
             .repartition(8))
    return nodes, pairs


def test_dup_clusters_driver_path_keeps_conf(spark):
    from geocode_spark.operators.dedup import dup_clusters

    nodes, pairs = _chains(spark)
    before = spark.conf.getAll
    got = {(r.doc_id, r.cluster_id)
           for r in dup_clusters(nodes, pairs).collect()}
    assert spark.conf.getAll == before
    assert got == {(i, (i // 8) * 8) for i in range(64)}


def test_dup_clusters_fallback_path_keeps_conf(spark, spread_shuffles,
                                               monkeypatch):
    from geocode_spark.operators import dedup
    from geocode_spark.operators.dedup import dup_clusters

    loops = []
    loop = dedup._propagate_loop
    monkeypatch.setattr(dedup, "_DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(dedup, "_propagate_loop",
                        lambda *a: loops.append(a) or loop(*a))
    # components that span every range partition leave a residue
    nodes = spark.range(64).select(F.col("id").alias("doc_id"))
    pairs = (spark.range(56)
             .select(F.col("id").alias("id_a"),
                     (F.col("id") + 8).alias("id_b"))
             .repartition(8))
    before = spark.conf.getAll
    got = {(r.doc_id, r.cluster_id)
           for r in dup_clusters(nodes, pairs).collect()}
    assert spark.conf.getAll == before
    assert loops
    assert got == {(i, i % 8) for i in range(64)}


def test_lineage_resume_keeps_conf(spark, tmp_path):
    """A resume rewrites one bucket under the writer's dynamic overwrite
    option while the session stays in static mode: the other buckets'
    files and manifests must survive (a static overwrite would wipe the
    whole output directory)."""
    from geocode_spark.plans.lineage import read_lineage, run_with_lineage

    key = "spark.sql.sources.partitionOverwriteMode"
    assert spark.conf.get(key).upper() == "STATIC"
    before = spark.conf.getAll
    df = spark.range(200).withColumn("k", F.col("id") % 10)
    out = tmp_path / "conf_out"
    run_with_lineage(df, out, key_col="id", n_buckets=4, snapshot_id="s1")
    (out / "_lineage" / "bucket=2.json").unlink()
    r = run_with_lineage(df, out, key_col="id", n_buckets=4,
                         snapshot_id="s1")
    assert spark.conf.getAll == before
    assert sorted(b.bucket for b in r if not b.skipped) == [2]
    assert spark.read.parquet(str(out)).count() == 200
    assert len(read_lineage(out, spark=spark)) == 4
