"""Structured Streaming tests: file-source pages stream through the pipeline
(foreachBatch) and a native windowed aggregation."""

import shutil

import pyspark.sql.functions as F
import pytest

from geocode_spark.streaming.geocode_stream import (geocode_pages_stream,
                                                    windowed_mention_counts)


@pytest.fixture()
def pages_stream(spark, fixture_dir, tmp_path):
    # stage a copy of the fixture as a file-source stream input
    src = tmp_path / "pages_in"
    src.mkdir()
    shutil.copy(fixture_dir / "pages.parquet", src / "part-0.parquet")
    schema = spark.read.parquet(str(src)).schema
    return spark.readStream.schema(schema).parquet(str(src))


def test_stream_pipeline_available_now(spark, fixture_dir, tmp_path,
                                       pages_stream):
    from geocode_spark.operators.forward_geocode import (prepare_cpo,
                                                         prepare_dims)
    from geocode_spark.regions import load_prepared

    cpo = prepare_cpo(spark.read.parquet(str(fixture_dir / "cpo_raw.parquet")))
    llsoa = load_prepared("llsoa", fixture_dir / "prepared")
    out_dir = str(tmp_path / "out")
    q = geocode_pages_stream(pages_stream, prepare_dims(cpo), llsoa,
                             checkpoint_dir=str(tmp_path / "ckpt"),
                             output_dir=out_dir)
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    result = spark.read.parquet(out_dir)
    assert result.count() > 0
    assert "llsoa" in result.columns
    assert result.filter(F.col("match_status") == 1).count() > 0


def test_stream_pipeline_with_prepared_dims(spark, fixture_dir, tmp_path,
                                            pages_stream):
    """With the prepared CPO dimensions no batch needs the CPO: the stream
    writes the same rows as the batch pipeline over the same pages."""
    from geocode_spark.operators.forward_geocode import load_dims
    from geocode_spark.operators.pipeline import geocode_documents
    from geocode_spark.regions import load_prepared

    dims = load_dims(spark, fixture_dir / "prepared",
                     fixture_dir / "cpo_raw.parquet")
    llsoa = load_prepared("llsoa", fixture_dir / "prepared")
    out_dir = str(tmp_path / "out")
    q = geocode_pages_stream(pages_stream, dims, llsoa,
                             checkpoint_dir=str(tmp_path / "ckpt"),
                             output_dir=out_dir)
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    got = spark.read.parquet(out_dir).drop("batch")
    want = geocode_documents(
        spark.read.parquet(str(fixture_dir / "pages.parquet")), dims, llsoa)
    assert sorted(map(repr, got.select(*want.columns).collect())) == \
        sorted(map(repr, want.collect()))


def test_windowed_mention_counts(spark, pages_stream, tmp_path):
    agg = windowed_mention_counts(pages_stream, window="1 day")
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName("mention_counts")
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(300)
        rows = spark.sql("select * from mention_counts").collect()
    finally:
        q.stop()
    assert len(rows) > 0
    assert all(r.n_mentions >= 1 for r in rows)
