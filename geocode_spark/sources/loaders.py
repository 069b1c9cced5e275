"""Reference-data source loaders (SURVEY.md §2.1).

Each mirrors a reference ingest path, re-expressed for Spark:

* S1  zip-CSV scan (cpo.py:41-114): the Code Point Open zip is extracted
  once driver-side, then read as a single multi-file ``spark.read.csv``
  with the fixed 10-column schema — the union of members is the scan.
* S7  PSV centroid scan (ons_nrs.py:293-319, 490-514).
* S6  GeoJSON FeatureCollection -> region records for prepare_regions
  (neso.py:139-142, eurostat.py:98-102, ons_nrs.py:184-201).
* S2/S3  7z extraction (utilities.py:433-487) — gated on py7zr, which is
  not in this environment; raises with a clear message otherwise.
* S8/S9  versioned prepared-table cache management (cache_manager.py:22-119).
"""

from __future__ import annotations

import shutil
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (IntegerType, StringType, StructField,
                               StructType)

CPO_COLUMNS = [
    # fixed 10-column layout, cpo.py:60-71
    "Postcode", "Positional_quality_indicator", "Eastings", "Northings",
    "Country_code", "NHS_regional_HA_code", "NHS_HA_code",
    "Admin_county_code", "Admin_district_code", "Admin_ward_code",
]

CPO_SCHEMA = StructType([
    StructField("Postcode", StringType()),
    StructField("Positional_quality_indicator", IntegerType()),
    StructField("Eastings", IntegerType()),
    StructField("Northings", IntegerType()),
    StructField("Country_code", StringType()),
    StructField("NHS_regional_HA_code", StringType()),
    StructField("NHS_HA_code", StringType()),
    StructField("Admin_county_code", StringType()),
    StructField("Admin_district_code", StringType()),
    StructField("Admin_ward_code", StringType()),
])


def load_cpo_zip(spark: SparkSession, zip_path: str | Path,
                 staging_dir: str | Path | None = None) -> DataFrame:
    """S1: extract ``Data/CSV/*.csv`` members of codepo_gb.zip and scan them
    as one headerless CSV source with the fixed schema, pruned to the four
    used columns (cpo.py:88-93). Extraction is a one-time driver-side cost;
    the scan itself is distributed over the extracted files."""
    staging = Path(staging_dir or tempfile.mkdtemp(prefix="cpo_zip_"))
    staging.mkdir(parents=True, exist_ok=True)
    n = 0
    with zipfile.ZipFile(zip_path, "r") as zf:
        for member in zf.namelist():
            if "Data/CSV/" not in member or not member.endswith(".csv"):
                continue
            target = staging / Path(member).name
            with zf.open(member) as src, open(target, "wb") as dst:
                shutil.copyfileobj(src, dst)
            n += 1
    if n == 0:
        raise FileNotFoundError(
            f"no Data/CSV/*.csv members found in {zip_path}")
    df = spark.read.csv(str(staging), schema=CPO_SCHEMA, header=False)
    return df.select("Postcode", "Positional_quality_indicator",
                     "Eastings", "Northings")


def load_psv_centroids(spark: SparkSession, path: str | Path) -> DataFrame:
    """S7: ``id|name|lon|lat`` headerless PSV -> centroid DataFrame
    (parse at ons_nrs.py:309-313)."""
    schema = "id string, name string, longitude double, latitude double"
    return spark.read.csv(str(path), sep="|", schema=schema, header=False)


def geojson_to_records(feature_collection: dict, id_property: str,
                       extra_properties: tuple[str, ...] = ()) -> list[dict]:
    """S6: GeoJSON FeatureCollection -> records for prepare_regions.

    Polygon -> rings (outer + holes); MultiPolygon -> all rings concatenated
    (even-odd ray-cast gives identical membership to the part-wise test).
    The reference's ``buffer(0)`` repair (ons_nrs.py:195-196) is a shapely
    validity fix; the even-odd rule used by our kernels is already defined
    for self-intersecting rings, so no repair pass is required.
    """
    records = []
    for feat in feature_collection.get("features", []):
        props = feat.get("properties", {})
        geom = feat.get("geometry") or {}
        gtype = geom.get("type")
        coords = geom.get("coordinates", [])
        if gtype == "Polygon":
            rings = [[(float(x), float(y)) for x, y, *_ in ring]
                     for ring in coords]
        elif gtype == "MultiPolygon":
            rings = [[(float(x), float(y)) for x, y, *_ in ring]
                     for poly in coords for ring in poly]
        else:
            continue
        rec = {"region_id": str(props[id_property]), "rings": rings}
        for p in extra_properties:
            rec[p] = props.get(p)
        records.append(rec)
    return records


def _extract_7z_member(archive: str | Path, member: str) -> bytes:
    """Driver-side 7z member extract: py7zr when installed (full format
    coverage incl. filters/encryption), else the built-in from-scratch
    reader (sevenzip.py — Copy/LZMA1/LZMA2 single-coder archives, the shape
    `7z a` produces for the reference's data files)."""
    try:
        import py7zr

        staging = Path(tempfile.mkdtemp(prefix="sevenz_"))
        with py7zr.SevenZipFile(archive, mode="r") as z:
            z.extract(path=staging, targets=[member])
        return (staging / member).read_bytes()
    except ImportError:
        from .sevenzip import extract_member

        return extract_member(archive, member)


def read_csv_from_7z(spark: SparkSession, archive: str | Path, member: str,
                     **csv_kwargs) -> DataFrame:
    """S2: extract one CSV member of a .7z archive (utilities.py:450-487);
    the Spark-side plumbing is identical to load_cpo_zip once extraction
    succeeds."""
    staging = Path(tempfile.mkdtemp(prefix="sevenz_")) / Path(member).name
    staging.write_bytes(_extract_7z_member(archive, member))
    return spark.read.csv(str(staging), **csv_kwargs)


def read_geojson_from_7z(archive: str | Path, member: str,
                         id_property: str = "region_id",
                         extra_properties: tuple = ()) -> list[dict]:
    """S3: extract a GeoJSON member of a .7z archive and decode it into
    region records for prepare_regions (utilities.py:433-447 +
    ons_nrs.py:203-227)."""
    import json as _json

    fc = _json.loads(_extract_7z_member(archive, member).decode("utf-8"))
    return geojson_to_records(fc, id_property, extra_properties)


def _is_missing_runtime(e: Exception) -> bool:
    """True iff the exception means "no Iceberg data source on the
    classpath" — the ONLY condition read_pages may fall through on.

    Matched on the structured errorClass when the exception carries one
    (pyspark >= 3.4 sets it; DATA_SOURCE_NOT_FOUND is the class for a
    missing format), falling back to message shapes: the >= 3.4 message
    embeds the class name, while older Sparks raise
    ClassNotFoundException("Failed to find data source: iceberg"). Pinned
    env is pyspark 4.1.2, but the check must not silently change meaning
    if the engine runs against an older cluster."""
    import re

    cls = getattr(e, "getErrorClass", None)
    if callable(cls):
        try:
            got = cls()
        except Exception:
            got = None
        if got:
            return got == "DATA_SOURCE_NOT_FOUND"
    msg = str(e)
    return ("DATA_SOURCE_NOT_FOUND" in msg
            or re.search(r"Failed to find (the )?data source: iceberg",
                         msg) is not None)


_ICEBERG_SOURCE = "org.apache.iceberg.spark.source.IcebergSource"


def _iceberg_runtime_loadable(spark: SparkSession) -> bool:
    """Whether the Iceberg runtime's data source class is on the driver
    classpath: one lookup, no exception raised and converted when it is
    not."""
    return bool(spark._jvm.org.apache.spark.util.Utils.classIsLoadable(
        _ICEBERG_SOURCE))


def read_pages(spark: SparkSession, source: str,
               snapshot_id: int | None = None) -> DataFrame:
    """S11: the 10^12-row fact scan. Resolution order:

    1. an Iceberg runtime/catalog on the classpath (``format("iceberg")``
       — partition + predicate pruning from Iceberg metadata);
    2. the built-in metadata-layer Iceberg reader (sources/iceberg.py) for
       any path that IS an Iceberg table: the snapshot's live data files
       are resolved from manifest Avro and handed to the parquet scan —
       snapshot isolation and time travel without the runtime jar;
    3. a plain parquet path.

    Either way the engine sees the same (url, warc_ts, html, text, lang)
    DataFrame and every downstream operator is storage-agnostic.
    ``snapshot_id`` pins a historical snapshot (paths 1-2 only).

    Fallback discipline: ``format("iceberg")`` is tried only when the
    runtime's class is loadable, and then only the no-runtime-installed
    error (DATA_SOURCE_NOT_FOUND) falls through. When a runtime IS
    present, its real failures (missing snapshot, corrupt manifests) RAISE rather than
    silently degrading to a plain parquet read of something else — and a
    ``snapshot_id`` that cannot be honored is an error, never a silent
    full-table read."""
    from . import iceberg

    def _runtime_read():
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        return reader.load(source)

    runtime = _iceberg_runtime_loadable(spark)
    if iceberg.is_iceberg_table(spark, source):
        # hadoop-layout table path: the runtime reader if installed
        # (manifest-level pruning), else the built-in metadata layer
        if runtime:
            try:
                return _runtime_read()
            except Exception as e:
                if not _is_missing_runtime(e):
                    raise
        return iceberg.read_iceberg(spark, source, snapshot_id)
    # not a metadata-layout path: a catalog table name (needs the runtime)
    # or a plain parquet path
    if runtime:
        try:
            return _runtime_read()
        except Exception as e:
            if not _is_missing_runtime(e):
                # a runtime IS installed. If the source exists as a filesystem
                # path it is plausibly plain parquet — fall through. A
                # non-path source is a catalog table name: the runtime's
                # failure (permissions, corrupt catalog, missing branch) is
                # the real error and must surface, not be masked by a
                # nonsensical parquet read of the table NAME. The probe
                # itself may throw on a name Hadoop Path cannot parse
                # ('cat:db.tbl') — that too means "not a path": surface the
                # ORIGINAL runtime error, not the probe's.
                from ..plans.fsio import FsPath

                try:
                    is_path = FsPath(spark, source).exists()
                except Exception:
                    is_path = False
                if not is_path:
                    raise
    if snapshot_id is not None:
        raise ValueError(
            f"snapshot_id={snapshot_id} given, but {source!r} is not an "
            "Iceberg table readable here — refusing to silently read the "
            "full parquet path instead of the pinned snapshot")
    return spark.read.parquet(source)


def pages_snapshot_id(spark: SparkSession, source: str) -> str | None:
    """Current snapshot id from table METADATA when the source is an
    Iceberg table (None for plain parquet) — the lineage layer stamps this
    into its manifests so resume-correctness is automatic, not dependent
    on a hand-passed string.

    Path-layout tables are resolved via the built-in metadata layer. A
    CATALOG-name source (needs a runtime) is probed through the runtime's
    ``<table>.snapshots`` metadata table, so geocode_pages can pin its
    read for those too; with no runtime installed the probe fails closed
    (None) and read_pages surfaces the real error at scan time."""
    from . import iceberg

    if iceberg.is_iceberg_table(spark, source):
        sid = iceberg.current_snapshot_id(spark, source)
        return None if sid is None else str(sid)
    if "/" not in source and not source.startswith("file:"):
        # plausibly a catalog table name: ask the runtime's metadata
        # tables (quoting each identifier part). The `history` table's
        # latest made_current_at row IS the current snapshot — the
        # `snapshots` table's newest committed_at is NOT (it still lists
        # rolled-back and staged/WAP snapshots, so pinning to it would
        # silently read non-current data after a rollback). Any failure —
        # no runtime, not a table, no snapshots — means "cannot pin".
        # escape backticks inside each part: a name containing ` would
        # otherwise break out of the quoting (the bare except below would
        # mask it as 'cannot pin', but don't rely on that)
        quoted = ".".join("`" + p.replace("`", "``") + "`"
                          for p in source.split("."))
        try:
            row = spark.sql(
                f"SELECT snapshot_id FROM {quoted}.`history` "
                "WHERE is_current_ancestor "
                "ORDER BY made_current_at DESC LIMIT 1").collect()
            return str(row[0][0]) if row else None
        except Exception:
            return None
    return None


# --- S8/S9: versioned prepared-table management (cache_manager parity) -----

def prepared_path(base_dir: str | Path, label: str, version: str) -> Path:
    """Version-keyed path, mirroring cache_manager.py:42-47 filenames."""
    return Path(base_dir) / f"{label}_{version}"


def clear_prepared(base_dir: str | Path, keep_version: str | None = None,
                   label: str | None = None) -> list[str]:
    """S9: delete prepared dirs; optionally only stale versions
    (cache_manager.py:86-119 semantics). Returns removed names.

    With ``keep_version`` set the call is framed as "drop stale versions
    only", so only dirs matching the versioned pattern ``<label>_<digits>``
    are candidates — unversioned prepared sets (``llsoa``, ``dno``, ...)
    are never touched by a version sweep."""
    import re

    base = Path(base_dir)
    removed = []
    if not base.exists():
        return removed
    for child in base.iterdir():
        if not child.is_dir():
            continue
        if label is not None and not child.name.startswith(f"{label}_"):
            continue
        if keep_version is not None:
            if child.name.endswith(f"_{keep_version}"):
                continue
            if not re.fullmatch(r".+_\d+", child.name):
                continue
        shutil.rmtree(child)
        removed.append(child.name)
    return removed
