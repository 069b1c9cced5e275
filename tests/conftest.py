import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from geocode_spark.session import get_spark
from geocode_spark.sources import fixtures


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="geocode-spark-tests", master="local[4]",
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    try:
        # every test that starts a streaming query stops it
        assert s.streams.active == [], s.streams.active
    finally:
        s.stop()


@pytest.fixture
def spread_shuffles(spark):
    """Keep every shuffle partition for one test: adaptive execution would
    coalesce a small test's shuffle into one task, and then, for example,
    ``dup_clusters``' local contraction leaves no residue for its fallback
    loop."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


@pytest.fixture(scope="session")
def fixture_dir(spark):
    base = fixtures.FIXTURE_DIR
    if not (base / "pages.parquet").exists():
        from geocode_spark.operators.forward_geocode import save_dims

        fixtures.build_all(base)
        # the prepared CPO dimensions are a Spark aggregation, so they
        # are built here (as the setup job does), not in build_all
        save_dims(spark, base / "cpo_raw.parquet", base / "prepared")
    return base
