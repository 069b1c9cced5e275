"""spark-submit entry points — file-to-file CLI parity with the reference's
utilities (latlons2llsoa.py, latlons2gsp.py, postcodes2latlon.py,
bng2latlon.py; see SURVEY.md §2.1 S10).

Usage (each reads CSV with the reference's required columns, appends result
columns, writes CSV or parquet):

    spark-submit --py-files geocode_spark.zip -m geocode_spark.jobs \
        latlons2llsoa --infile pts.csv --outfile out.csv \
        --prepared fixtures/prepared

All jobs run unchanged on a multi-executor cluster: the only driver-side
work is broadcast construction. Reference tables are prepared once and
loaded at run time: region sets under ``--prepared/<name>``
(``prepare_regions`` builds one) and the CPO forward-geocode dimensions
under ``--prepared/cpo`` (``prepare_cpo`` builds them from
``--fixtures/cpo_raw.parquet``; ``setup`` rebuilds the synthetic fixtures
and all of these), so no runtime job aggregates the CPO or runs the BNG
conversion over it. A job refuses CPO dimensions that were built from a
different ``cpo_raw.parquet`` than its ``--fixtures`` holds.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

import pyspark.sql.functions as F


def _read_csv(spark, path, schema_hint=None):
    return spark.read.csv(path, header=True, inferSchema=True)


def _cpo_raw(args):
    return f"{args.fixtures}/cpo_raw.parquet"


def _write(df, path):
    if path.endswith(".parquet"):
        df.write.mode("overwrite").parquet(path)
    else:
        df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def latlons2llsoa(spark, args):
    """latitude,longitude CSV -> + llsoa column (reference latlons2llsoa.py:73-83)."""
    from .operators.reverse_geocode import reverse_geocode
    from .regions import load_prepared

    df = _read_csv(spark, args.infile)
    prep = load_prepared("llsoa", args.prepared)
    out = reverse_geocode(df, prep, out_col="llsoa")
    if args.datazones:
        from .operators.centroid_lookup import datazone_relabel

        dz = spark.read.parquet(f"{args.fixtures}/datazone_lookup.parquet")
        out = datazone_relabel(out, dz, region_col="llsoa")
    _write(out, args.outfile)


def latlons2gsp(spark, args):
    """latitude,longitude CSV -> + gsp/gsp_group (reference latlons2gsp.py:66-77)."""
    from .operators.reverse_geocode import reverse_geocode
    from .regions import load_prepared

    df = _read_csv(spark, args.infile)
    prep = load_prepared("gsp", args.prepared)
    out = reverse_geocode(df, prep, out_col="gsp")
    if prep.attrs is not None:
        attrs = spark.createDataFrame(prep.attrs).select(
            F.col("region_id").alias("gsp"), F.col("GSPGroup").alias("gsp_group"))
        out = out.join(F.broadcast(attrs), "gsp", "left")
    _write(out, args.outfile)


def postcodes2latlon(spark, args):
    """postcode CSV -> + latitude/longitude/match_status
    (reference postcodes2latlon.py:67-81)."""
    from .operators.forward_geocode import forward_geocode, load_dims

    df = _read_csv(spark, args.infile)
    dims = load_dims(spark, args.prepared, _cpo_raw(args))
    _write(forward_geocode(df, None, dedup_keys=True, dims=dims),
           args.outfile)


def bng2latlon(spark, args):
    """eastings,northings CSV -> + latitude/longitude (reference bng2latlon.py:66-78)."""
    from .functions.udfs import bng_to_latlon_udf

    df = _read_csv(spark, args.infile)
    ll = bng_to_latlon_udf(F.col("eastings").cast("double"),
                           F.col("northings").cast("double"))
    out = (df.withColumn("latitude", ll.getField("lat"))
             .withColumn("longitude", ll.getField("lon")))
    _write(out, args.outfile)


def geocode_pages(spark, args):
    """North-star pipeline as a resumable job: pages -> extract -> geocode
    -> LLSOA+GSP, executed bucket-by-bucket with per-partition lineage
    manifests (plans/lineage.py). Re-running after an interruption skips
    committed buckets; output is overwrite-idempotent.

    Every reference table is loaded, not built: the LLSOA and GSP region
    sets and the CPO exact/prefix dimensions (``load_dims``, checked
    against ``--fixtures/cpo_raw.parquet``) come from ``--prepared``, so
    each bucket's plan is pages scan -> extract -> two broadcast joins ->
    one Arrow reverse-geocode pass -> write, with no BNG UDF, aggregation
    or shuffle."""
    from .operators.forward_geocode import load_dims
    from .operators.pipeline import geocode_documents
    from .plans.lineage import run_with_lineage
    from .regions import load_prepared
    from .sources.loaders import pages_snapshot_id, read_pages

    # Snapshot resolution, in priority order:
    #   1. an EXPLICIT --snapshot on an Iceberg input = time travel: the
    #      read is pinned to that historical snapshot and lineage stamps
    #      the same id (an override the user asked for must never be
    #      silently replaced by the current snapshot);
    #   2. otherwise an Iceberg input supplies its CURRENT snapshot id
    #      from table metadata — and the read is PINNED to that same id,
    #      because an unpinned read resolves the current snapshot at scan
    #      time, so a commit landing between the metadata probe and the
    #      (lazy) scan would compute buckets the manifests don't describe;
    #   3. plain-parquet inputs fall back to --snapshot as an opaque
    #      lineage label (no pinning possible).
    meta_sid = pages_snapshot_id(spark, args.infile)
    user_sid = args.snapshot  # None unless the user passed the flag
    if meta_sid and user_sid:
        try:
            pin = int(user_sid)
        except ValueError:
            raise SystemExit(
                f"--snapshot {user_sid!r}: an Iceberg input needs a numeric "
                "snapshot id to time-travel to (omit the flag to use the "
                "table's current snapshot)")
        snapshot = user_sid
    elif meta_sid:
        snapshot, pin = meta_sid, int(meta_sid)
    else:
        # plain parquet: --snapshot is just an opaque lineage label; the
        # "snapshot-0" default is synthesized HERE, so a user who
        # explicitly types any value (even "snapshot-0") on an Iceberg
        # input is handled by the branches above, never conflated with
        # "flag not given"
        snapshot, pin = (user_sid if user_sid is not None
                         else "snapshot-0"), None
    pages = read_pages(spark, args.infile, snapshot_id=pin)
    dims = load_dims(spark, args.prepared, _cpo_raw(args))
    llsoa = load_prepared("llsoa", args.prepared)
    gsp = load_prepared("gsp", args.prepared)
    results = run_with_lineage(
        pages, args.outfile, key_col="url",
        transform=lambda df: geocode_documents(df, dims, llsoa, gsp),
        n_buckets=args.buckets, snapshot_id=snapshot,
        operator_version="1")
    done = sum(1 for r in results if not r.skipped)
    skipped = sum(1 for r in results if r.skipped)
    rows = sum(r.rows for r in results)
    print(f"geocode_pages: {rows} rows, {done} buckets computed, "
          f"{skipped} resumed from lineage")


def prepare_regions_job(spark, args):
    """One-time prep: GeoJSON FeatureCollection -> prepared region artifacts
    (rings + bbox + covering-cell map) under --prepared/<name>. The runtime
    jobs then just load + broadcast (cache_manager prep analogue)."""
    import json as _json

    from .regions import prepare_regions, save_prepared
    from .sources.loaders import geojson_to_records, read_geojson_from_7z

    extra = tuple(args.attrs.split(",")) if args.attrs else ()
    if args.infile.endswith(".7z"):
        # S3: GeoJSON member inside a 7z archive (ons_nrs.py:203-227)
        if not args.member:
            raise SystemExit("prepare_regions on a .7z needs --member")
        records = read_geojson_from_7z(args.infile, args.member,
                                       args.id_property, extra)
    else:
        fc = _json.loads(Path(args.infile).read_text())
        records = geojson_to_records(fc, args.id_property, extra)
    prep = prepare_regions(records, args.name, crs=args.crs,
                           attrs_cols=list(extra) or None)
    save_prepared(prep, args.prepared)
    print(f"prepared '{args.name}': {prep.n_regions} regions, res {prep.res}, "
          f"{len(prep.cover)} covering cells "
          f"({prep.cover.interior.mean():.0%} interior)")


def prepare_cpo_job(spark, args):
    """One-time prep: --fixtures/cpo_raw.parquet -> the CPO exact and
    prefix dimensions under --prepared/cpo, with the raw CPO's sha256 in
    meta.json. The runtime jobs then just load + broadcast them; rerun
    this whenever cpo_raw.parquet changes."""
    from .operators.forward_geocode import save_dims

    save_dims(spark, _cpo_raw(args), args.prepared)
    print(f"prepared cpo: {_cpo_raw(args)} -> {args.prepared}/cpo")


def setup_job(spark, args):
    """CLI lifecycle parity with the reference's ``--setup <entities>``
    (geocode.py:521-557 / force_setup geocode.py:380-392): (re)build the
    synthetic fixture tables + every prepared region artifact under
    --fixtures, then the CPO forward-geocode dimensions under
    --prepared/cpo from the fresh cpo_raw.parquet (this step needs the
    session, which build_all does not). It overwrites --fixtures, so with
    real data run prepare_regions and prepare_cpo instead; this is the
    one-shot synthetic path."""
    from .operators.forward_geocode import save_dims
    from .sources.fixtures import build_all, checksum

    build_all(args.fixtures, prepared_dir=args.prepared)
    save_dims(spark, _cpo_raw(args), args.prepared)
    print(f"setup: fixtures -> {args.fixtures}, prepared -> {args.prepared} "
          f"(sha256 {checksum(args.fixtures)[:16]}...)")


def clear_cache_job(spark, args):
    """``--clear-cache`` parity (geocode.py:521-557 -> cache_manager.clear,
    cache_manager.py:86-119): drop prepared region artifacts, optionally
    only stale versions (--keep-version) or one dataset (--name)."""
    from .sources.loaders import clear_prepared

    removed = clear_prepared(
        Path(args.prepared),
        keep_version=args.keep_version or None,
        label=None if args.name == "regions" else args.name)
    print(f"clear-cache: removed {len(removed)} prepared sets"
          + (f": {', '.join(sorted(removed))}" if removed else ""))


def debug_job(spark, args):
    """``--debug`` parity (geocode.py:439-518): timed smoke run of every
    entity path over deterministic sample inputs, timings logged per entity
    exactly like the reference's debug() timers (geocode.py:442-510)."""
    import time

    from .geocoder import GeocoderSpark

    g = GeocoderSpark(spark, data_dir=args.fixtures, prepared_dir=args.prepared)
    lat0, lon0 = 54.53, -1.196  # inside fixture LLSOA E01012082
    latlons = spark.range(1000).select(
        F.col("id").alias("row_id"),
        (F.lit(lat0) + (F.col("id") % 100) * F.lit(0.0004)).alias("latitude"),
        (F.lit(lon0) + (F.col("id") % 97) * F.lit(0.00008)).alias("longitude"))
    postcodes = spark.createDataFrame(
        [(i, p) for i, p in enumerate(["RG1 3PE", "S10 2FR", "FY2 0RD"] * 100)],
        "row_id long, postcode string")
    llsoas = spark.createDataFrame(
        [(i, "E01012082") for i in range(100)], "row_id long, llsoa string")
    runs = [
        ("geocode_llsoa", lambda: g.geocode_llsoa(llsoas)),
        ("reverse_geocode_llsoa", lambda: g.reverse_geocode_llsoa(latlons)),
        ("reverse_geocode_gsp", lambda: g.reverse_geocode_gsp(latlons)),
        ("reverse_geocode_nuts", lambda: g.reverse_geocode_nuts(latlons)),
        ("geocode_postcode", lambda: g.geocode_postcode(postcodes)),
    ]
    for name, fn in runs:
        t0 = time.time()
        n = fn().count()
        print(f"debug: {name}: {n} rows in {time.time() - t0:.2f}s")


def rasterize_job(spark, args):
    """Raster<->vector tiling job (north-rule surface): a polygon geoms
    parquet (region_id, xs, ys, ring_offsets — the save_prepared layout)
    -> covering-cell raster parquet, or its compact scanline-run vector
    form with --spans."""
    from .operators.raster import raster_to_spans, rasterize_regions

    geoms = spark.read.parquet(args.infile)
    out = rasterize_regions(geoms, res=args.res)
    if args.spans:
        out = raster_to_spans(out)
    _write(out, args.outfile)


JOBS = {
    "latlons2llsoa": latlons2llsoa,
    "latlons2gsp": latlons2gsp,
    "postcodes2latlon": postcodes2latlon,
    "bng2latlon": bng2latlon,
    "geocode_pages": geocode_pages,
    "prepare_regions": prepare_regions_job,
    "prepare_cpo": prepare_cpo_job,
    "setup": setup_job,
    "clear-cache": clear_cache_job,
    "debug": debug_job,
    "rasterize": rasterize_job,
}

# the file flags each job reads (every other job: --infile and --outfile)
_FILE_FLAGS = {"prepare_regions": ("infile",), "setup": (),
               "prepare_cpo": (), "clear-cache": (), "debug": ()}

# --snapshot defaults to None ("flag not given") so an explicitly typed
# value — any value, including the literal "snapshot-0" that geocode_pages
# synthesizes as the plain-parquet lineage label — is always recognized as
# a user pin on an Iceberg input
_SNAPSHOT_DEFAULT = None


def main(argv=None):
    from .sources.fixtures import FIXTURE_DIR

    p = argparse.ArgumentParser(prog="geocode_spark.jobs")
    p.add_argument("job", choices=sorted(JOBS))
    p.add_argument("--infile")
    p.add_argument("--outfile")
    p.add_argument("--keep-version", dest="keep_version", default="")
    p.add_argument("--member", default="")
    p.add_argument("--prepared", default=str(FIXTURE_DIR / "prepared"))
    p.add_argument("--fixtures", default=str(FIXTURE_DIR))
    p.add_argument("--datazones", action="store_true")
    p.add_argument("--buckets", type=int, default=8)
    p.add_argument("--snapshot", default=_SNAPSHOT_DEFAULT)
    p.add_argument("--name", default="regions")
    p.add_argument("--id-property", dest="id_property", default="region_id")
    p.add_argument("--attrs", default="")
    p.add_argument("--crs", default="EPSG:4326")
    p.add_argument("--res", type=int, default=13)
    p.add_argument("--spans", action="store_true")
    args = p.parse_args(argv)
    need = _FILE_FLAGS.get(args.job, ("infile", "outfile"))
    if not all(getattr(args, f) for f in need):
        p.error(f"job {args.job!r} requires "
                + " and ".join(f"--{f}" for f in need))

    from .session import get_spark

    spark = get_spark(app_name=f"geocode-spark-{args.job}")
    try:
        JOBS[args.job](spark, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
