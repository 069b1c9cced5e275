"""``geocode_spark.jobs.main`` argument handling: defaults come from the
running checkout's fixtures, and each job requires only the file flags it
reads. The session and the job are stubbed, so no Spark starts."""

from types import SimpleNamespace

import pytest

from geocode_spark import jobs
from geocode_spark.sources.fixtures import FIXTURE_DIR


@pytest.fixture
def ran(monkeypatch):
    """Stub the session and every job; collect the args each job got."""
    import geocode_spark.session as session

    seen = []
    monkeypatch.setattr(session, "get_spark",
                        lambda **kw: SimpleNamespace(stop=lambda: None))
    for name in jobs.JOBS:
        monkeypatch.setitem(jobs.JOBS, name,
                            lambda spark, args: seen.append(args))
    return seen


def test_setup_defaults_to_this_checkout(ran):
    jobs.main(["setup"])
    (args,) = ran
    assert args.fixtures == str(FIXTURE_DIR)
    assert args.prepared == str(FIXTURE_DIR / "prepared")


def test_geocoder_defaults_to_this_checkout():
    from geocode_spark.geocoder import GeocoderSpark

    g = GeocoderSpark(spark=None)
    assert g.data_dir == FIXTURE_DIR
    assert g.prepared_dir == FIXTURE_DIR / "prepared"


def test_prepare_regions_needs_only_infile(ran, capsys):
    jobs.main(["prepare_regions", "--infile", "regions.geojson",
               "--name", "n"])
    assert ran[0].infile == "regions.geojson" and ran[0].outfile is None
    with pytest.raises(SystemExit):
        jobs.main(["prepare_regions", "--name", "n"])
    assert "requires --infile" in capsys.readouterr().err
    assert len(ran) == 1


def test_file_jobs_still_need_both_flags(ran, capsys):
    with pytest.raises(SystemExit):
        jobs.main(["latlons2llsoa", "--infile", "pts.csv"])
    assert "requires --infile and --outfile" in capsys.readouterr().err
    assert ran == []
