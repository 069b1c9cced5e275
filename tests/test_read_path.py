"""The pages read path: Iceberg tables are read with the table's own schema
(no footer-inference job), ``read_pages`` probes for an Iceberg runtime
instead of raising and converting, and ``FsPath`` children keep their
string form."""

import datetime as dt

import pytest
from pyspark.sql import DataFrameReader
from pyspark.sql import types as T

from geocode_spark.plans.fsio import FsPath
from geocode_spark.sources import iceberg
from geocode_spark.sources import loaders
from geocode_spark.sources.loaders import read_pages


@pytest.fixture()
def pages_table(spark, fixture_dir, tmp_path):
    tbl = tmp_path / "pages_tbl"
    iceberg.write_iceberg(
        spark, spark.read.parquet(str(fixture_dir / "pages.parquet")), tbl)
    return str(tbl)


def test_read_pages_iceberg_launches_no_job(spark, pages_table):
    sc = spark.sparkContext
    sc.setJobGroup("read_pages_no_job", "read_pages on an Iceberg table")
    try:
        df = read_pages(spark, pages_table)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(
        "read_pages_no_job")) == []
    assert df.columns == ["url", "warc_ts", "html", "text", "lang"]


def test_iceberg_schema_read_equals_inferred_read(spark, tmp_path):
    """Every Spark type write_iceberg maps reads back with the same rows as
    the footer-inferred read; short and byte come back as int."""
    schema = T.StructType([
        T.StructField("s", T.StringType()), T.StructField("l", T.LongType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("d", T.DoubleType()), T.StructField("f", T.FloatType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("bin", T.BinaryType()),
        T.StructField("dt", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ntz", T.TimestampNTZType()),
        T.StructField("sh", T.ShortType()), T.StructField("by", T.ByteType()),
    ])
    mapped = {f.dataType.typeName() for f in schema.fields}
    assert mapped | {"int"} == set(iceberg._SPARK_TO_ICEBERG)
    rows = [("a", 2**62 + 3, -7, -0.0, 1.5, True, b"\x00\xff",
             dt.date(2024, 2, 29), dt.datetime(2024, 1, 1, 12, 30, 1, 5),
             dt.datetime(1999, 12, 31, 23, 59, 59), 32767, -128),
            (None,) * 12]
    df = spark.createDataFrame(rows, schema)
    tbl = tmp_path / "typed"
    iceberg.write_iceberg(spark, df, tbl)

    got = iceberg.read_iceberg(spark, str(tbl))
    files = [f["file_path"] for f in iceberg.data_files(spark, str(tbl))]
    inferred = spark.read.parquet(*files)
    want = T.StructType([
        T.StructField(f.name, T.IntegerType() if f.name in ("sh", "by")
                      else f.dataType) for f in inferred.schema.fields])
    assert got.schema == want
    key = lambda r: repr(tuple(r))  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(inferred.collect(),
                                                    key=key)


def test_unmappable_schema_falls_back_to_inference():
    md = {"schema": {"fields": [
        {"id": 1, "name": "a", "type": "decimal(9,2)", "required": False}]}}
    assert iceberg._spark_schema(md, {}) is None
    assert iceberg._spark_schema({"schema": {"fields": []}}, {}) is None


@pytest.fixture()
def format_calls(monkeypatch):
    calls = []
    real = DataFrameReader.format

    def spy(self, source):
        calls.append(source)
        return real(self, source)

    monkeypatch.setattr(DataFrameReader, "format", spy)
    return calls


def test_no_runtime_never_tries_iceberg_format(spark, fixture_dir,
                                               pages_table, format_calls):
    assert not loaders._iceberg_runtime_loadable(spark)
    read_pages(spark, pages_table)
    read_pages(spark, str(fixture_dir / "pages.parquet"))
    assert "iceberg" not in format_calls


def test_forced_probe_still_falls_back(spark, fixture_dir, pages_table,
                                       format_calls, monkeypatch):
    """A probe that says yes while the source is missing still ends in the
    DATA_SOURCE_NOT_FOUND fallback, for a table and for plain parquet."""
    monkeypatch.setattr(loaders, "_iceberg_runtime_loadable", lambda s: True)
    table = read_pages(spark, pages_table)
    plain = read_pages(spark, str(fixture_dir / "pages.parquet"))
    assert format_calls.count("iceberg") == 2
    assert table.count() == plain.count() > 0


@pytest.mark.parametrize("base", ["file://{tmp}/base", "{tmp}/base"])
@pytest.mark.parametrize("name", ["_lineage", "bucket=3.json"])
def test_fspath_child_string_unchanged(spark, tmp_path, base, name):
    """A child's string is what qualifying ``<parent>/<name>`` gives."""
    parent = FsPath(spark, base.format(tmp=tmp_path))
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(str(parent)).getFileSystem(
        spark._jsc.hadoopConfiguration())
    want = fs.makeQualified(
        jvm.org.apache.hadoop.fs.Path(f"{parent}/{name}")).toString()
    child = parent.child(name)
    assert str(child) == want
    assert str(child.child("x")) == f"{want}/x"
    assert str(parent).startswith("file:")
