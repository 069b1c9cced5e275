"""settle_worker_imports: zip importers leave the worker's import cache,
imports from the same archives keep working, and the package still runs
when ``--py-files`` is what provides it."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pyarrow as pa

from geocode_spark.functions.udfs import settle_worker_imports

REPO = Path(__file__).resolve().parents[1]


def _zip_importers():
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


def test_settle_drops_zip_importers_and_imports_still_work(tmp_path):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("settle_mod_a.py", "VALUE = 'a'\n")
        z.writestr("settle_mod_b.py", "VALUE = 'b'\n")
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("settle_mod_a").VALUE == "a"
        assert archive in _zip_importers()
        files = zipimport._zip_directory_cache[archive]

        settle_worker_imports()
        assert _zip_importers() == []
        # what the worker does at the start of each task: with no zip
        # importer cached, the archive directory is not read again
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is files

        assert importlib.import_module("settle_mod_b").VALUE == "b"
        assert zipimport._zip_directory_cache[archive] is files
    finally:
        sys.path.remove(archive)
        for name in ("settle_mod_a", "settle_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_worker_imports_after_settle(spark):
    # each run imports a pyspark submodule the workers have not loaded, so
    # the import goes through an importer rebuilt after the settle call
    for name in ("pyspark.sql.avro.functions",
                 "pyspark.sql.protobuf.functions"):
        def body(batches, name=name):
            settle_worker_imports()
            left = sum(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
            mod = importlib.import_module(name).__name__
            for b in batches:
                n = b.num_rows
                yield pa.RecordBatch.from_pydict(
                    {"id": b.column("id"), "left": [left] * n,
                     "mod": [mod] * n})

        rows = (spark.range(0, 40, numPartitions=4)
                .mapInArrow(body, "id long, left long, mod string")
                .collect())
        assert sorted(r.id for r in rows) == list(range(40))
        assert {r.left for r in rows} == {0}
        assert {r.mod for r in rows} == {name}


_PYFILES_JOB = """
import sys

from pyspark.sql import SparkSession

archive, prepared = sys.argv[1], sys.argv[2]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.submit.pyFiles", archive)
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import geocode_spark
from geocode_spark.operators.reverse_geocode import reverse_geocode
from geocode_spark.regions import load_prepared

print("package", geocode_spark.__file__)
prep = load_prepared("llsoa", prepared)
pts = spark.createDataFrame([(54.547777, -1.195629)],
                            "latitude double, longitude double")
for _ in range(2):
    print("llsoa", reverse_geocode(pts, prep, out_col="llsoa")
          .collect()[0]["llsoa"])
spark.stop()
"""


def test_py_files_deployment(tmp_path, fixture_dir):
    from scripts.make_pyfiles_zip import build

    archive = build(tmp_path / "geocode_spark.zip")
    script = tmp_path / "job.py"
    script.write_text(textwrap.dedent(_PYFILES_JOB))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    # cwd is tmp_path, so neither the driver nor the workers can import
    # the checkout: the archive is the only copy of the package
    proc = subprocess.run(
        [sys.executable, str(script), str(archive),
         str(fixture_dir / "prepared")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.splitlines()
    (pkg,) = [ln.split(" ", 1)[1] for ln in lines if ln.startswith("package ")]
    assert ".zip" in pkg and not pkg.startswith(str(REPO))
    assert [ln for ln in lines if ln.startswith("llsoa ")] == \
        ["llsoa E01012082"] * 2
