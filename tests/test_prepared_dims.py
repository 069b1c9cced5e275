"""Prepared CPO dimensions: ``save_dims``/``load_dims`` give the same rows,
bit for bit, as aggregating the CPO in the session, the committed
``fixtures/prepared/cpo/`` matches a fresh build, the jobs that load them
plan no Python UDF over the CPO, and dimensions built from one raw CPO are
refused for another."""

from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from geocode_spark.operators.forward_geocode import (forward_geocode,
                                                     load_dims, prepare_cpo,
                                                     prepare_dims, save_dims)
from geocode_spark.operators.pipeline import geocode_documents
from geocode_spark.regions import load_prepared


def _bits(table: pa.Table) -> dict:
    """Column -> (validity, values) with doubles as their int64 bit
    patterns, so equality below is bit equality."""
    out = {}
    for name in table.column_names:
        col = table.column(name).combine_chunks()
        valid = np.asarray(col.is_valid())
        if pa.types.is_floating(col.type):
            vals = np.asarray(pc.fill_null(col, 0.0)).view(np.int64)
        else:
            vals = np.asarray(col.to_pylist(), dtype=object)
        out[name] = (valid, vals)
    return out


def _assert_same(a: pa.Table, b: pa.Table):
    assert a.column_names == b.column_names
    assert a.num_rows == b.num_rows
    ba, bb = _bits(a), _bits(b)
    for name in a.column_names:
        assert np.array_equal(ba[name][0], bb[name][0]), name
        assert np.array_equal(ba[name][1][ba[name][0]],
                              bb[name][1][bb[name][0]]), name


def _sorted(df, keys):
    return df.toArrow().sort_by([(k, "ascending") for k in keys])


KEYS = (["__pc"], ["__ow", "__iw", "__iwlen"])


@pytest.fixture(scope="module")
def raw(fixture_dir):
    return fixture_dir / "cpo_raw.parquet"


@pytest.fixture(scope="module")
def cpo(spark, raw):
    return prepare_cpo(spark.read.parquet(str(raw)))


def test_load_dims_equals_prepare_dims(spark, raw, cpo, tmp_path):
    save_dims(spark, raw, tmp_path)
    for loaded, built, keys in zip(load_dims(spark, tmp_path, raw),
                                   prepare_dims(cpo), KEYS):
        assert loaded.schema.simpleString() == \
            built.schema.simpleString()
        _assert_same(_sorted(loaded, keys), _sorted(built, keys))


def test_committed_dims_match_fresh_build(spark, raw, fixture_dir, tmp_path):
    save_dims(spark, raw, tmp_path)
    committed = fixture_dir / "prepared" / "cpo"
    for fname in ("exact.parquet", "prefix.parquet"):
        _assert_same(pq.read_table(committed / fname),
                     pq.read_table(tmp_path / "cpo" / fname))
    assert (committed / "meta.json").read_text() == \
        (tmp_path / "cpo" / "meta.json").read_text()


def test_load_dims_missing_names_jobs(spark, raw, tmp_path):
    with pytest.raises(FileNotFoundError, match="prepare_cpo.*setup"):
        load_dims(spark, tmp_path, raw)


def _python_nodes(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [n for n in ("ArrowEvalPython", "BatchEvalPython") if n in plan]


def test_loaded_dims_geocode_like_built_dims(spark, raw, cpo, fixture_dir):
    """geocode_documents with the loaded dims: same rows as with the dims
    aggregated in the session, and no Python UDF evaluation in the plan
    (aggregating the CPO inline plans one)."""
    prepared = fixture_dir / "prepared"
    llsoa, gsp = (load_prepared(n, prepared) for n in ("llsoa", "gsp"))
    pages = spark.read.parquet(str(fixture_dir / "pages.parquet"))
    loaded = geocode_documents(pages, load_dims(spark, prepared, raw),
                               llsoa, gsp)
    assert _python_nodes(loaded) == []
    inline = forward_geocode(
        spark.createDataFrame([("RG1 3PE",)], "postcode string"), cpo)
    assert _python_nodes(inline) == ["ArrowEvalPython"]
    built = geocode_documents(pages, prepare_dims(cpo), llsoa, gsp)
    assert loaded.schema == built.schema
    assert sorted(map(repr, loaded.collect())) == \
        sorted(map(repr, built.collect()))


def _postcodes2latlon(spark, tmp_path, fixtures, prepared):
    from geocode_spark.jobs import postcodes2latlon

    src = tmp_path / "pcs.csv"
    src.write_text("postcode\nRG1 3PE\nS10 2FR\nZZ9 9ZZ\n")
    out = tmp_path / "out.parquet"
    postcodes2latlon(spark, SimpleNamespace(
        infile=str(src), outfile=str(out), prepared=str(prepared),
        fixtures=str(fixtures)))
    return src, {r.postcode: r
                 for r in spark.read.parquet(str(out)).collect()}


def _want(spark, src, raw):
    want = forward_geocode(spark.read.csv(str(src), header=True), cpo=None,
                           dims=prepare_dims(prepare_cpo(
                               spark.read.parquet(str(raw)))))
    return {r.postcode: (r.latitude, r.longitude, r.match_status)
            for r in want.collect()}


def test_postcodes2latlon_loads_dims(spark, raw, fixture_dir, tmp_path):
    src, got = _postcodes2latlon(spark, tmp_path, fixture_dir,
                                 fixture_dir / "prepared")
    # golden: RG1 3PE -> (51.4551, -0.9407, status 1)
    assert got["RG1 3PE"].match_status == 1
    assert round(got["RG1 3PE"].latitude, 4) == 51.4551
    assert round(got["RG1 3PE"].longitude, 4) == -0.9407
    assert got["ZZ9 9ZZ"].match_status == 0
    assert _want(spark, src, raw) == \
        {k: (r.latitude, r.longitude, r.match_status) for k, r in got.items()}


def test_other_cpo_needs_its_own_dims(spark, raw, fixture_dir, tmp_path):
    """A --fixtures whose cpo_raw differs from the one the dimensions were
    built from is refused (both ways round); the prepare_cpo job builds
    dimensions for it without touching any other fixture, and
    postcodes2latlon then geocodes against that CPO."""
    from geocode_spark.jobs import prepare_cpo_job

    # another CPO vintage: the fixture CPO without RG1 3PE, written by
    # Spark as a directory of part files
    other = tmp_path / "other_fixtures"
    (spark.read.parquet(str(raw))
     .where("upper(replace(Postcode, ' ', '')) != 'RG13PE'")
     .coalesce(2).write.parquet(str(other / "cpo_raw.parquet")))
    committed = fixture_dir / "prepared"
    with pytest.raises(ValueError, match="prepare_cpo"):
        _postcodes2latlon(spark, tmp_path, other, committed)

    prepared = tmp_path / "prepared"
    prepare_cpo_job(spark, SimpleNamespace(fixtures=str(other),
                                           prepared=str(prepared)))
    assert sorted(p.name for p in other.iterdir()) == ["cpo_raw.parquet"]
    with pytest.raises(ValueError, match="not built from"):
        load_dims(spark, prepared, raw)

    src, got = _postcodes2latlon(spark, tmp_path, other, prepared)
    assert got["RG1 3PE"].match_status != 1
    assert got["S10 2FR"].match_status == 1
    assert _want(spark, src, other / "cpo_raw.parquet") == \
        {k: (r.latitude, r.longitude, r.match_status) for k, r in got.items()}
