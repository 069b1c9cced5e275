"""Distributed forward geocode: postcode strings -> (lat, lon, match_status).

Re-expresses ``cpo.geocode_postcode`` (/root/reference/geocode/cpo.py:116-190)
and its per-row fallback ``geocode_one`` (cpo.py:192-229) as pure DataFrame
ops — no per-row Python anywhere:

* postcode normalization (strip/upper/despace, cpo.py:152-154)  -> Catalyst
  string expressions (whole-stage codegen, SURVEY F1-F3)
* exact match + multi-unit nanmean (cpo.py:156-172): the reference joins 1:N
  then groupbys per input row — but the mean only depends on the postcode
  key, so we pre-aggregate the CPO dimension ONCE (postcode -> avg lat/lon;
  Spark ``avg`` skips NULLs exactly like np.nanmean after NaN->NULL ingest)
  and the fact-side join becomes 1:1 broadcast — ZERO fact-side shuffle
* partial-postcode fallback (cpo.py:217-228): likewise precomputed as a
  prefix-mean dimension over (outward, inward-prefix, prefix-len) for all
  prefix lengths 0..3 in one aggregation, a 1:1 broadcast join (status 2)
* status codes: 1 full match, 2 partial, 0 failed (geocode.py:79-85)

Physical plan at any scale: scan -> codegen'd normalize -> two
BroadcastHashJoins -> project. The fact side never shuffles. The dimensions
are static per CPO vintage, so :func:`save_dims` writes them once (the
``prepare_cpo`` and ``setup`` jobs do, under ``<prepared>/cpo/``) and
runtime jobs pass :func:`load_dims` as ``dims=``: two fixed-schema parquet
scans on the broadcast side, with no BNG UDF pass, aggregation or shuffle
per job.
"""

from __future__ import annotations

import json
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def prepare_cpo(cpo_raw: DataFrame) -> DataFrame:
    """CPO raw (Postcode, Positional_quality_indicator, Eastings, Northings)
    -> geocoded dimension with derived lat/lon and outward/inward split.

    Mirrors cpo.py:96-110 including:
    * P1: drop rows with Eastings == 0 AND Northings == 0 (cpo.py:99)
    * P2 quirk: the reference's quality mask is
      ``Eastings.notnull() & PQI < 90`` which Python-precedence-evaluates as
      ``(notnull & PQI) < 90`` i.e. ``(PQI & 1) < 90`` — effectively
      all-true (cpo.py:100-102). We reproduce the *actual* semantics.
    """
    from ..functions.udfs import bng_to_latlon_udf

    df = cpo_raw
    df = df.withColumn("Postcode", F.upper(F.regexp_replace(F.col("Postcode"), " ", "")))
    df = df.filter(~((F.col("Eastings") == 0) & (F.col("Northings") == 0)))
    # P2: (notnull & PQI) < 90 — bitwise AND of the bool (0/1) with PQI
    mask = (
        F.col("Eastings").isNotNull().cast("int")
        .bitwiseAND(F.col("Positional_quality_indicator")) < 90
    )
    ll = bng_to_latlon_udf(F.col("Eastings").cast("double"),
                           F.col("Northings").cast("double"))
    df = df.withColumn("__ll", ll)
    df = df.withColumn("latitude", F.when(mask, F.col("__ll.lat")))
    df = df.withColumn("longitude", F.when(mask, F.col("__ll.lon"))).drop("__ll")
    df = df.withColumn(
        "outward_postcode",
        F.trim(F.expr("substring(Postcode, 1, greatest(length(Postcode) - 3, 0))")))
    df = df.withColumn("inward_postcode",
                       F.trim(F.expr("substring(Postcode, -3, 3)")))
    return df


def exact_dim(cpo: DataFrame) -> DataFrame:
    """postcode -> (avg lat, avg lon). Row presence == exact match exists.
    Equivalent to the reference's per-row groupby-nanmean (cpo.py:162-172)
    because the mean depends only on the postcode key."""
    return (cpo.groupBy(F.col("Postcode").alias("__pc"))
            .agg(F.avg("latitude").alias("__lat1"),
                 F.avg("longitude").alias("__lon1")))


def prefix_dim(cpo: DataFrame, max_len: int = 3) -> DataFrame:
    """(outward, inward-prefix, prefix-len) -> mean lat/lon over matching
    units, for every prefix length 0..max_len. The precomputed form of
    geocode_one's filtered mean (cpo.py:217-228). Each CPO row is exploded
    once per prefix length into ONE aggregation, so the CPO scan (and its
    BNG UDF) runs once, not once per length."""
    lens = F.explode(F.array(*map(F.lit, range(max_len + 1))))
    iw = F.when(F.col("__iwlen") == 0, "").otherwise(
        F.expr("substring(inward_postcode, 1, __iwlen)"))
    return (cpo.select("*", lens.alias("__iwlen"))
            .groupBy(F.col("outward_postcode").alias("__ow"),
                     iw.alias("__iw"), "__iwlen")
            .agg(F.avg("latitude").alias("__lat2"),
                 F.avg("longitude").alias("__lon2")))


def prepare_dims(cpo: DataFrame, max_len: int = 3
                 ) -> tuple[DataFrame, DataFrame]:
    """Precompute (exact_dim, prefix_dim) in this session, persisted — for
    a caller that holds a CPO frame rather than the files
    :func:`save_dims` wrote. Pass the pair as ``dims=`` to
    :func:`forward_geocode` instead of re-aggregating per call. The
    broadcast-build itself is still per-query (that's Spark's execution
    model and it amortizes at scale); this removes the repeated
    aggregation jobs above it."""
    ex = exact_dim(cpo).persist()
    px = prefix_dim(cpo, max_len).persist()
    return ex, px


# The prepared dimensions' fixed schemas: load_dims reads the files with
# them, so no footer-inference job runs
_EXACT_DIM_SCHEMA = "__pc string, __lat1 double, __lon1 double"
_PREFIX_DIM_SCHEMA = ("__ow string, __iw string, __iwlen int, "
                      "__lat2 double, __lon2 double")
_DIM_FILES = ("exact.parquet", "prefix.parquet", "meta.json")


def _cpo_digest(spark: SparkSession, cpo_raw: str | Path) -> str:
    """sha256 of the raw CPO's bytes: the file itself, or a directory's
    data files in name order (``_``/``.`` metadata files skipped). Read
    through the Hadoop filesystem, so any path Spark reads works."""
    import hashlib

    from ..plans.fsio import FsPath

    root = FsPath(spark, str(cpo_raw))
    if not root.exists():
        raise FileNotFoundError(f"raw CPO {cpo_raw} does not exist")
    names = [n for n in root.list_names() if not n.startswith(("_", "."))]
    h = hashlib.sha256()
    for f in [root.child(n) for n in names] or [root]:
        h.update(f.read_bytes())
    return h.hexdigest()


def save_dims(spark: SparkSession, cpo_raw: str | Path,
              base_dir: str | Path) -> None:
    """One-time prep: read the raw CPO parquet at ``cpo_raw``, prepare it
    (:func:`prepare_cpo`) and write its :func:`exact_dim` and
    :func:`prefix_dim` as single parquet files under ``<base_dir>/cpo/``,
    next to the prepared region sets. ``meta.json`` records the sha256 of
    the raw CPO, which :func:`load_dims` checks. Rows are sorted by key so
    a rebuild writes the same rows in the same order; doubles round-trip
    through parquet exactly."""
    import pyarrow.parquet as pq

    digest = _cpo_digest(spark, cpo_raw)
    cpo = prepare_cpo(spark.read.parquet(str(cpo_raw)))
    base = Path(base_dir) / "cpo"
    base.mkdir(parents=True, exist_ok=True)
    for fname, dim, keys in (
            ("exact.parquet", exact_dim(cpo), ["__pc"]),
            ("prefix.parquet", prefix_dim(cpo), ["__ow", "__iw", "__iwlen"])):
        table = dim.toArrow().sort_by([(k, "ascending") for k in keys])
        pq.write_table(table, base / fname)
    (base / "meta.json").write_text(json.dumps({"cpo_sha256": digest}))


def load_dims(spark: SparkSession, base_dir: str | Path,
              cpo_raw: str | Path) -> tuple[DataFrame, DataFrame]:
    """(exact_dim, prefix_dim) as written by :func:`save_dims`, read with
    their fixed schemas: a lazy scan each, no Spark job until the query
    that broadcasts them runs. Pass the pair as ``dims=`` to
    :func:`forward_geocode`.

    ``cpo_raw`` is the raw CPO the caller geocodes against. It must be
    the one the files were built from (same sha256), so dimensions of a
    stale or different CPO raise ValueError instead of geocoding
    silently."""
    base = Path(base_dir) / "cpo"
    missing = [str(base / f) for f in _DIM_FILES if not (base / f).exists()]
    if missing:
        raise FileNotFoundError(
            f"prepared CPO dimensions missing ({', '.join(missing)}); "
            "build them with the `prepare_cpo` job (python -m "
            "geocode_spark.jobs prepare_cpo --fixtures <dir with "
            "cpo_raw.parquet> --prepared <dir>) or the `setup` job, which "
            "also rebuilds the synthetic fixtures")
    built = json.loads((base / "meta.json").read_text()).get("cpo_sha256")
    if built != _cpo_digest(spark, cpo_raw):
        raise ValueError(
            f"prepared CPO dimensions under {base} were not built from "
            f"{cpo_raw}; rebuild them with the `prepare_cpo` job")
    exact, prefix = (str(base / f) for f in _DIM_FILES[:2])
    return (spark.read.schema(_EXACT_DIM_SCHEMA).parquet(exact),
            spark.read.schema(_PREFIX_DIM_SCHEMA).parquet(prefix))


def forward_geocode(
    postcodes: DataFrame,
    cpo: DataFrame | None,
    postcode_col: str = "postcode",
    dedup_keys: bool = False,
    dims: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Add latitude/longitude/match_status columns to ``postcodes``.

    ``cpo`` is the prepared CPO from :func:`prepare_cpo`; it is only
    aggregated when ``dims`` is None, so with ``dims`` (from
    :func:`load_dims` or :func:`prepare_dims`) it may be None. All input
    columns pass through (the reference instead restores order by its
    ordinal id, cpo.py:190; inside the engine order is free).

    ``dedup_keys=True`` reproduces the reference's session-cache effect
    (cpo.py:140-149) — distinct keys first, geocode, broadcast back. With
    the pre-aggregated dimensions the default path is already shuffle-free,
    so dedup only pays when the distinct key set is small AND downstream
    wants the distinct results themselves.
    """
    if dedup_keys:
        keys = postcodes.select(postcode_col).distinct()
        geocoded = forward_geocode(keys, cpo, postcode_col,
                                   dedup_keys=False, dims=dims)
        return postcodes.join(F.broadcast(geocoded), postcode_col, "left")

    # normalization, F1/F3 (cpo.py:152-154 / 211-224)
    norm = F.upper(F.regexp_replace(F.trim(F.col(postcode_col)), " ", ""))
    up = F.upper(F.trim(F.col(postcode_col)))
    pts = (postcodes
           .withColumn("__norm", norm)
           .withColumn("__outward",
                       F.when(up.contains(" "), F.split(up, " ", 2).getItem(0))
                        .otherwise(up))
           .withColumn("__inward",
                       F.when(up.contains(" "), F.split(up, " ", 2).getItem(1))
                        .otherwise(F.lit(""))))

    ex, px = dims if dims is not None else (exact_dim(cpo), prefix_dim(cpo))

    out = pts.join(F.broadcast(ex), pts["__norm"] == ex["__pc"], "left")
    out = out.join(
        F.broadcast(px),
        (out["__outward"] == px["__ow"])
        & (F.coalesce(out["__inward"], F.lit("")) == px["__iw"])
        & (F.length(F.coalesce(out["__inward"], F.lit(""))) == px["__iwlen"]),
        "left",
    )
    out = (
        out.withColumn(
            "latitude",
            F.when(F.col("__pc").isNotNull(), F.col("__lat1"))
             .otherwise(F.col("__lat2")))
        .withColumn(
            "longitude",
            F.when(F.col("__pc").isNotNull(), F.col("__lon1"))
             .otherwise(F.col("__lon2")))
        .withColumn(
            "match_status",
            F.when(F.col("__pc").isNotNull(), F.lit(1))
             .when(F.col("__lat2").isNotNull(), F.lit(2))
             .otherwise(F.lit(0)))
    )
    drop = [c for c in out.columns if c.startswith("__")]
    return out.drop(*drop)
