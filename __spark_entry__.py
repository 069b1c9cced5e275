"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs a geocode_spark operator over the driver's
testdata (plus the committed fixture tables under this checkout's
``fixtures/``);
``oracle_sql()`` carries the independent DuckDB formulation. Geospatial
oracles exploit that fixture polygons are axis-aligned squares, so exact
bbox containment in SQL is an independent check of the engine's
cell-index + ray-cast path. Point coordinates are derived with identical
IEEE double expressions on both sides, strictly interior to region
boundaries, so results are bit-comparable.
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from geocode_spark.sources.fixtures import FIXTURE_DIR

FIX = str(FIXTURE_DIR)

UK_POSTCODE_REGEX = r"\b([A-Z]{1,2}[0-9][A-Z0-9]?)\s?([0-9][A-Z]{2})\b"


# --------------------------------------------------------------------------
# shared point derivation: deterministic synthetic lat/lons from `events`,
# scattered strictly inside the fixture squares (or far outside)
# --------------------------------------------------------------------------

def _points(spark: SparkSession, sf_dir: str, regions_parquet: str,
            modulus: int) -> DataFrame:
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    sq = spark.read.parquet(regions_parquet).select("region_seq", "xmin",
                                                    "ymin", "xmax", "ymax")
    pts = events.select(
        F.col("event_id").alias("row_id"),
        (F.col("event_id") % modulus).alias("sqi"),
        (F.lit(0.05) + F.lit(0.9) * ((F.col("event_id") % 211) * F.lit(1.0) / F.lit(211.0))).alias("fx"),
        (F.lit(0.05) + F.lit(0.9) * ((F.col("event_id") % 199) * F.lit(1.0) / F.lit(199.0))).alias("fy"),
    )
    j = pts.join(F.broadcast(sq), pts["sqi"] == sq["region_seq"], "left")
    out_sq = modulus - 1
    return j.select(
        "row_id",
        F.when(F.col("sqi") == out_sq, F.lit(10.0) + F.col("fy"))
         .otherwise(F.col("ymin") + F.col("fy") * (F.col("ymax") - F.col("ymin")))
         .alias("latitude"),
        F.when(F.col("sqi") == out_sq, F.lit(100.0) + F.col("fx"))
         .otherwise(F.col("xmin") + F.col("fx") * (F.col("xmax") - F.col("xmin")))
         .alias("longitude"),
    )


def _points_sql(regions_parquet: str, modulus: int) -> str:
    out_sq = modulus - 1
    return f"""
pts AS (
  SELECT event_id AS row_id, event_id % {modulus} AS sqi,
         0.05 + 0.9 * ((event_id % 211) * 1.0 / 211.0) AS fx,
         0.05 + 0.9 * ((event_id % 199) * 1.0 / 199.0) AS fy
  FROM events),
sq AS (SELECT * FROM read_parquet('{regions_parquet}')),
coords AS (
  SELECT p.row_id,
         CASE WHEN p.sqi = {out_sq} THEN 10.0 + p.fy
              ELSE s.ymin + p.fy * (s.ymax - s.ymin) END AS latitude,
         CASE WHEN p.sqi = {out_sq} THEN 100.0 + p.fx
              ELSE s.xmin + p.fx * (s.xmax - s.xmin) END AS longitude
  FROM pts p LEFT JOIN sq s ON s.region_seq = p.sqi)
"""


def _prep(name: str):
    from geocode_spark.regions import load_prepared

    return load_prepared(name, f"{FIX}/prepared")


# --------------------------------------------------------------------------
# query implementations
# --------------------------------------------------------------------------

def q_reverse_geocode_llsoa(spark, sf_dir):
    from geocode_spark.operators.reverse_geocode import reverse_geocode

    pts = _points(spark, sf_dir, f"{FIX}/llsoa_regions.parquet", 6)
    out = reverse_geocode(pts, _prep("llsoa"))
    return out.select("row_id", "region_id")


def q_reverse_geocode_llsoa_join(spark, sf_dir):
    from geocode_spark.operators.reverse_geocode import reverse_geocode

    pts = _points(spark, sf_dir, f"{FIX}/llsoa_regions.parquet", 6)
    out = reverse_geocode(pts, _prep("llsoa"), strategy="join")
    return out.select("row_id", "region_id")


def q_reverse_geocode_gsp(spark, sf_dir):
    from geocode_spark.operators.reverse_geocode import reverse_geocode

    pts = _points(spark, sf_dir, f"{FIX}/gsp_regions.parquet", 3)
    prep = _prep("gsp")
    out = reverse_geocode(pts, prep, out_col="gsp")
    attrs = spark.createDataFrame(prep.attrs).select(
        F.col("region_id").alias("gsp"), F.col("GSPGroup").alias("gsp_group"))
    return (out.join(F.broadcast(attrs), "gsp", "left")
            .select("row_id", "gsp", "gsp_group"))


def q_reverse_geocode_nuts3(spark, sf_dir):
    from geocode_spark.operators.reverse_geocode import reverse_geocode

    pts = _points(spark, sf_dir, f"{FIX}/nuts_regions_l3.parquet", 4)
    return reverse_geocode(pts, _prep("nuts_l3")).select("row_id", "region_id")


def q_reverse_geocode_llsoa_dz(spark, sf_dir):
    from geocode_spark.operators.centroid_lookup import datazone_relabel
    from geocode_spark.operators.reverse_geocode import reverse_geocode

    pts = _points(spark, sf_dir, f"{FIX}/llsoa_regions.parquet", 6)
    out = reverse_geocode(pts, _prep("llsoa"))
    dz = spark.read.parquet(f"{FIX}/datazone_lookup.parquet")
    return datazone_relabel(out, dz).select("row_id", "region_id")


def q_reverse_geocode_dno(spark, sf_dir):
    """DNO regions OVERLAP (London inside East's bbox): exercises the
    keep-first boundary-tie semantics (A3) against the oracle, which
    replicates GeoPandas keep-first as min(region_seq)."""
    from geocode_spark.operators.reverse_geocode import reverse_geocode

    pts = _points(spark, sf_dir, f"{FIX}/dno_regions.parquet", 3)
    return reverse_geocode(pts, _prep("dno"), out_col="dno") \
        .select("row_id", "dno")


def q_reverse_geocode_knn(spark, sf_dir):
    """J5 bounded-kNN fallback with METRE semantics (utilities.py:253-284:
    max_distance is in the regions' CRS units — metres for BNG data). Points
    sit strictly EAST of their LLSOA square at 1-23 km, so every row takes
    the ring-expansion nearest path; threshold 15 km splits matched/NULL.
    Oracle: exact point-to-box distance with the identical equirectangular
    constant (geometry.METERS_PER_DEG = 111320)."""
    from geocode_spark.operators.reverse_geocode import reverse_geocode

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    sq = spark.read.parquet(f"{FIX}/llsoa_regions.parquet").select(
        "region_seq", "xmin", "ymin", "xmax", "ymax")
    pts = events.select(
        F.col("event_id").alias("row_id"),
        (F.col("event_id") % 5).alias("sqi"),
        (F.lit(0.05) + F.lit(0.9) * ((F.col("event_id") % 211) * F.lit(1.0) / F.lit(211.0))).alias("fx"),
        (F.lit(0.05) + F.lit(0.9) * ((F.col("event_id") % 199) * F.lit(1.0) / F.lit(199.0))).alias("fy"),
    )
    j = pts.join(F.broadcast(sq), pts["sqi"] == sq["region_seq"], "left")
    coords = j.select(
        "row_id",
        (F.col("ymin") + F.col("fy") * (F.col("ymax") - F.col("ymin"))).alias("latitude"),
        (F.col("xmax") + F.lit(0.001) + F.col("fx") * F.lit(0.35)).alias("longitude"),
    )
    out = reverse_geocode(coords, _prep("llsoa"), max_distance=15000.0,
                          distance_unit="m", keep_distance=True)
    return out.select("row_id", "region_id",
                      F.round("knn_dist", 1).alias("knn_dist"))


def q_reverse_geocode_nuts3_vintages(spark, sf_dir):
    """NUTS year-vintage routing (eurostat.py:117-121), BOTH vintages in
    one driver row (the harness records at most 50 queries, so the two
    formerly separate queries — hash-green in rounds 1-3 — are unioned
    with a vintage label; each vintage is still independently
    hash-verified because the label keys every row). Same points for
    both: the 2016 tables are SMALLER, so points near a 2021 boundary
    come back NULL only under 2016 — year routing is observable, not a
    no-op."""
    from geocode_spark.operators.reverse_geocode import reverse_geocode

    pts = _points(spark, sf_dir, f"{FIX}/nuts_regions_l3_2021.parquet", 4)
    out21 = reverse_geocode(pts, _prep("nuts_l3_2021")).select(
        F.lit(2021).alias("vintage"), "row_id", "region_id")
    out16 = reverse_geocode(pts, _prep("nuts_l3_2016")).select(
        F.lit(2016).alias("vintage"), "row_id", "region_id")
    return out21.unionByName(out16)


def q_reverse_geocode_gsp_20181031(spark, sf_dir):
    """20181031 GSP vintage end-to-end (neso.py:303-343): points generated
    in BNG space inside EPSG:27700 fixture squares, converted E/N -> lat/lon
    by the engine's own CRS kernel, reverse-geocoded against the
    crs='EPSG:27700'-prepared vintage, expanded through the many:many
    Region<->GSP<->GNode lookup (neso.py:61-95). The oracle never leaves BNG
    space — an independent check of the whole BNG prep branch."""
    from geocode_spark.geocoder import GeocoderSpark

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    sq = spark.read.parquet(f"{FIX}/gsp_regions_20181031_bng.parquet").select(
        "region_seq", "xmin", "ymin", "xmax", "ymax")
    pts = events.select(
        F.col("event_id").alias("row_id"),
        (F.col("event_id") % 3).alias("sqi"),
        (F.lit(0.05) + F.lit(0.9) * ((F.col("event_id") % 211) * F.lit(1.0) / F.lit(211.0))).alias("fx"),
        (F.lit(0.05) + F.lit(0.9) * ((F.col("event_id") % 199) * F.lit(1.0) / F.lit(199.0))).alias("fy"),
    )
    j = pts.join(F.broadcast(sq), pts["sqi"] == sq["region_seq"], "left")
    en = j.select(
        "row_id",
        F.when(F.col("sqi") == 2, F.lit(650000.0) + F.col("fx") * F.lit(1000.0))
         .otherwise(F.col("xmin") + F.col("fx") * (F.col("xmax") - F.col("xmin")))
         .alias("easting"),
        F.when(F.col("sqi") == 2, F.lit(1150000.0) + F.col("fy") * F.lit(1000.0))
         .otherwise(F.col("ymin") + F.col("fy") * (F.col("ymax") - F.col("ymin")))
         .alias("northing"),
    )
    g = GeocoderSpark(spark)
    ll = g.bng2latlon(en, "easting", "northing")
    out = g.reverse_geocode_gsp_20181031(
        ll.select("row_id", "latitude", "longitude"))
    return out.select("row_id", "gsp", "gsp_name", "gnode")


def q_crs_kernels(spark, sf_dir):
    """F6/F7 CRS kernels, BOTH directions in one driver row (50-query
    harness cap; each direction was a separate hash-green query in rounds
    1-3 and each remains independently verified via the direction label).
    Forward: synthetic UK-range lat/lon grid -> National Grid E/N,
    compared at 0.1 m. Inverse (the direction region prep depends on):
    GB-range E/N grid -> WGS84 at 5 dp (~0.5 m). Both oracles are
    independent DuckDB transcriptions of the published OS formulas with
    crs.py's exact fixed iteration counts (8-step geodetic forward;
    10-step meridional arc + inverse Helmert + 8-step geodetic
    inverse)."""
    from geocode_spark.geocoder import GeocoderSpark

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    g = GeocoderSpark(spark)
    fwd_pts = events.select(
        F.col("event_id").alias("row_id"),
        (F.lit(50.0) + (F.col("event_id") % 1000) * F.lit(8.0) / F.lit(1000.0)).alias("latitude"),
        (F.lit(-6.0) + (F.col("event_id") % 997) * F.lit(7.0) / F.lit(997.0)).alias("longitude"),
    )
    fwd = g.latlon2bng(fwd_pts).select(
        F.lit("fwd").alias("direction"), "row_id",
        F.round("eastings", 1).alias("coord_a"),
        F.round("northings", 1).alias("coord_b"))
    inv_pts = events.select(
        F.col("event_id").alias("row_id"),
        (F.lit(150000.0) + (F.col("event_id") % 1000) * F.lit(400.0)).alias("eastings"),
        (F.lit(50000.0) + (F.col("event_id") % 997) * F.lit(900.0)).alias("northings"),
    )
    inv = g.bng2latlon(inv_pts, "eastings", "northings").select(
        F.lit("inv").alias("direction"), "row_id",
        F.round("latitude", 5).alias("coord_a"),
        F.round("longitude", 5).alias("coord_b"))
    return fwd.unionByName(inv)


def q_cell_index(spark, sf_dir):
    from geocode_spark.functions.udfs import cell_ij_udf

    pts = _points(spark, sf_dir, f"{FIX}/llsoa_regions.parquet", 6)
    ij = cell_ij_udf(15)(F.col("latitude"), F.col("longitude"))
    return pts.select("row_id", ij.getField("i").alias("i"),
                      ij.getField("j").alias("j"))


def q_extract_postcodes(spark, sf_dir):
    from geocode_spark.operators.pipeline import extract_postcode_mentions

    pages = spark.read.parquet(f"{FIX}/pages.parquet")
    return extract_postcode_mentions(pages).select("url", "postcode").distinct()


def q_forward_geocode(spark, sf_dir):
    from geocode_spark.operators.forward_geocode import (forward_geocode,
                                                         prepare_cpo)
    from geocode_spark.operators.pipeline import extract_postcode_mentions

    pages = spark.read.parquet(f"{FIX}/pages.parquet")
    cpo = prepare_cpo(spark.read.parquet(f"{FIX}/cpo_raw.parquet"))
    mentions = extract_postcode_mentions(pages).select("url", "postcode").distinct()
    out = forward_geocode(mentions, cpo)
    return out.select(
        "url", "postcode",
        F.round("latitude", 6).alias("latitude"),
        F.round("longitude", 6).alias("longitude"),
        "match_status")


def q_partial_postcode(spark, sf_dir):
    from geocode_spark.operators.forward_geocode import (forward_geocode,
                                                         prepare_cpo)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    inputs = docs.select(
        F.col("doc_id").alias("row_id"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("AB1"))
         .when(F.col("doc_id") % 4 == 1, F.lit("CD2 2"))
         .when(F.col("doc_id") % 4 == 2, F.lit("EF3 3"))
         .otherwise(F.lit("NOPE")).alias("postcode"),
    )
    cpo = prepare_cpo(spark.read.parquet(f"{FIX}/cpo_raw.parquet"))
    out = forward_geocode(inputs, cpo)
    return out.select(
        "row_id", "postcode",
        F.round("latitude", 6).alias("latitude"),
        F.round("longitude", 6).alias("longitude"),
        "match_status")


_LLSOA_KEYS = ["E01012082", "E01011214", "E01002050", "W01000323",
               "S00101253", "S01008087", "S01020873"]


_CONSTITUENCIES = ["Poplar and Limehouse", " blyth valley ", "ALDERSHOT", "Nowhere"]
_LADS = ["Medway", " BARROW-IN-FURNESS ", "derry city and strabane", "Nowhere"]


def q_centroid_lookups(spark, sf_dir):
    """J7 broadcast-dict centroid lookups, all three entity dictionaries
    (LLSOA code-keyed; constituency and LAD name-keyed through the F4
    match-key normalizer) in one driver row (50-query harness cap; each
    was a separate hash-green query in rounds 1-3 and each remains
    independently verified via the entity label)."""
    from geocode_spark.operators.centroid_lookup import centroid_lookup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def keyed(keys_list, mod, alias):
        key = F.element_at(F.array(*[F.lit(k) for k in keys_list]),
                           (F.col("doc_id") % mod + 1).cast("int"))
        return docs.select(F.col("doc_id").alias("row_id"),
                           key.alias(alias))

    llsoa = centroid_lookup(
        keyed(_LLSOA_KEYS, 7, "code"),
        spark.read.parquet(f"{FIX}/llsoa_centroids.parquet"),
        "code", "code").select(
        F.lit("llsoa").alias("entity"), "row_id",
        F.col("code").alias("key"), "latitude", "longitude")
    cons = centroid_lookup(
        keyed(_CONSTITUENCIES, 4, "name"),
        spark.read.parquet(f"{FIX}/constituency_centroids.parquet"),
        "name", "name", normalize=True).select(
        F.lit("constituency").alias("entity"), "row_id",
        F.col("name").alias("key"), "latitude", "longitude")
    lad = centroid_lookup(
        keyed(_LADS, 4, "name"),
        spark.read.parquet(f"{FIX}/lad_centroids.parquet"),
        "name", "name", normalize=True).select(
        F.lit("lad").alias("entity"), "row_id",
        F.col("name").alias("key"), "latitude", "longitude")
    return llsoa.unionByName(cons).unionByName(lad)


def q_llsoa_from_postcode(spark, sf_dir):
    from geocode_spark.operators.centroid_lookup import llsoa_from_postcode
    from geocode_spark.operators.pipeline import extract_postcode_mentions

    pages = spark.read.parquet(f"{FIX}/pages.parquet")
    mentions = extract_postcode_mentions(pages).select("url", "postcode").distinct()
    lookup = spark.read.parquet(f"{FIX}/pc_llsoa_lookup.parquet")
    return llsoa_from_postcode(mentions, lookup).select("url", "postcode", "llsoa")


def q_gsp_expand(spark, sf_dir):
    from geocode_spark.operators.centroid_lookup import gsp_expand
    from geocode_spark.operators.reverse_geocode import reverse_geocode

    pts = _points(spark, sf_dir, f"{FIX}/gsp_regions.parquet", 3)
    out = reverse_geocode(pts, _prep("gsp"), out_col="gsp")
    lookup = spark.read.parquet(f"{FIX}/gsp_lookup.parquet")
    return gsp_expand(out, lookup).select("row_id", "gsp", "gnode", "dno")


def q_exact_dedup(spark, sf_dir):
    from geocode_spark.operators.dedup import exact_dedup

    pages = spark.read.parquet(f"{FIX}/pages.parquet")
    return exact_dedup(pages, text_col="text", id_col="url").select("url")


def q_exact_dup_groups(spark, sf_dir):
    pages = spark.read.parquet(f"{FIX}/pages.parquet")
    return (pages.groupBy("text")
            .agg(F.count("*").alias("n_docs"), F.min("url").alias("min_url"))
            .filter(F.col("n_docs") > 1)
            .select("min_url", "n_docs"))


def q_dup_clusters(spark, sf_dir):
    """Connected components over exact-dup pairs (local union-find
    contraction plus a driver finish — the non-SQL-native op the DuckDB
    oracle reproduces with a recursive CTE)."""
    from geocode_spark.operators.dedup import dup_clusters

    pages = spark.read.parquet(f"{FIX}/pages.parquet")
    l = pages.select(F.col("url").alias("id_a"), F.col("text").alias("__t"))
    r = pages.select(F.col("url").alias("id_b"), F.col("text").alias("__t"))
    pairs = (l.join(r, "__t").filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b"))
    return dup_clusters(pages.select("url"), pairs, id_col="url")


def q_ngram_jaccard(spark, sf_dir):
    from geocode_spark.operators.dedup import ngram_jaccard_all_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = ngram_jaccard_all_pairs(docs, n=3, threshold=0.2)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_minhash_pairs(spark, sf_dir):
    """MinHash-LSH candidates verified with EXACT word-3-gram Jaccard at a
    high threshold (0.8). At that threshold the banded LSH recall is 1 on
    this corpus (near-dup pairs collide in every band, deterministic
    seeded hashing), so the output is exactly the set of high-Jaccard
    pairs — which the DuckDB oracle computes brute-force over ALL pairs.
    A missed candidate or a broken bucket join would break the hash, so
    the full signature -> band -> bucket-join -> verify plumbing is under
    oracle check; estimate-vs-exact tolerances stay pytest-covered."""
    from geocode_spark.operators.dedup import (minhash_dedup_pairs,
                                               ngram_jaccard_pairs)

    pages = spark.read.parquet(f"{FIX}/pages.parquet")
    cand = minhash_dedup_pairs(pages, text_col="text", id_col="url",
                               threshold=0.35).select("id_a", "id_b")
    out = ngram_jaccard_pairs(pages, cand, text_col="text", id_col="url",
                              n=3, threshold=0.8)
    return out.select("id_a", "id_b",
                      F.round("jaccard", 6).alias("jaccard"))


def q_simhash_pairs(spark, sf_dir):
    """All pairs at simhash Hamming distance <= 3. The chunk blocking is
    COMPLETE by pigeonhole (4x16-bit chunks, distance <=3 shares a chunk),
    and the token hash is the fully-specified FNV-1a+splitmix64 — so the
    DuckDB oracle transcribes the identical arithmetic (hugeint mod-2^64)
    and brute-forces all pairs: a full hash check, not rows-only."""
    from geocode_spark.operators.dedup import simhash, simhash_near_pairs

    pages = spark.read.parquet(f"{FIX}/pages.parquet")
    sh = simhash(pages, text_col="text")
    return simhash_near_pairs(sh, id_col="url", max_hamming=3)


def q_token_stats(spark, sf_dir):
    from geocode_spark.operators.text import with_token_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_token_counts(docs).select("doc_id", "ws_tokens", "re_tokens")


def q_quality_lang(spark, sf_dir):
    """Quality scoring AND language-ID in one driver row (50-query
    harness cap; separate hash-green queries in rounds 1-3, now composed
    the way a curation pipeline actually runs them — both operators over
    the same corpus pass, one row per document carrying both outputs,
    each column still independently hash-verified)."""
    from geocode_spark.operators.text import with_lang_id, with_quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = with_lang_id(with_quality_score(docs))
    return out.select(
        "doc_id", "n_words", "stopword_hits",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("quality_score", 2).alias("quality_score"),
        "lang_pred")


def q_repetition_scores(spark, sf_dir):
    """Intra-document duplicate-3-gram fraction (Gopher-family quality
    signal) over the word-soup documents corpus — the repeated vocabulary
    makes scores vary document to document, so the oracle discriminates."""
    from geocode_spark.operators.text import with_repetition_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_repetition_score(docs, n=3).select(
        "doc_id", "ngram_total", "ngram_distinct",
        F.round("repetition_score", 6).alias("repetition_score"))


def q_contamination(spark, sf_dir):
    """Benchmark decontamination: docs sharing a distinct word-4-gram
    with the held-out 'benchmark' slice (doc_id % 17 == 0) — 38 flagged
    docs at sf0.01. Broadcast bench-gram join, corpus never shuffled on
    gram."""
    from geocode_spark.operators.text import contamination_flags

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    benchmark = docs.filter(F.col("doc_id") % 17 == 0)
    return contamination_flags(corpus, benchmark, n=4, min_overlap=1)


def q_url_canonical(spark, sf_dir):
    """URL canonicalization over deterministically-dirtied page urls (the
    fixture urls are uniform, so the query itself appends case, fragment,
    tracking-param, port and trailing-slash variants by url index — each
    canonicalization rule is forced to fire; both sides build the same
    dirty input)."""
    from geocode_spark.operators.text import canonicalize_urls

    pages = spark.read.parquet(f"{FIX}/pages.parquet").select("url")
    i = F.regexp_extract("url", "([0-9]+)$", 1).cast("long")
    dirty = F.when(i % 4 == 0, F.concat(
        F.lit("HTTPS://Example.ORG"),
        F.expr("substring(url, 20)"), F.lit("#section-2")))
    dirty = dirty.when(i % 4 == 1, F.concat(
        F.col("url"), F.lit("?utm_source=feed&page="), i % 7,
        F.lit("&fbclid=abc")))
    dirty = dirty.when(i % 4 == 2, F.concat(
        F.lit("https://example.org:443"),
        F.expr("substring(url, 20)"), F.lit("/")))
    dirty = dirty.otherwise(F.col("url"))
    out = canonicalize_urls(pages.withColumn("dirty_url", dirty),
                            url_col="dirty_url")
    return out.select("url", "dirty_url", "canonical_url", "domain")


def q_domain_stats(spark, sf_dir):
    """Per-domain corpus stats over canonicalized urls: the groupBy key is
    the canonical domain, the aggregate is docs + mean whitespace tokens."""
    from geocode_spark.operators.text import (canonicalize_urls,
                                              with_token_counts)

    pages = spark.read.parquet(f"{FIX}/pages.parquet").select("url", "text")
    i = F.regexp_extract("url", "([0-9]+)$", 1).cast("long")
    hosted = pages.withColumn(
        "url", F.concat(F.lit("https://host"), i % 5,
                        F.lit(".example.org/p/"), i))
    out = canonicalize_urls(with_token_counts(hosted))
    return (out.groupBy("domain")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("ws_tokens"), 6).alias("avg_ws_tokens")))


def q_doc_fingerprint(spark, sf_dir):
    """Fingerprint partition semantics: docs share a fingerprint iff their
    whitespace-normalized lowercased text is identical. The input is built
    with FORCED case/whitespace variants of ~50 base texts (the raw sf
    documents are all-distinct, which would make the check vacuous): three
    variants per base must merge into one group iff normalization works.
    The oracle groups by the normalized TEXT itself (it cannot reproduce
    Spark's xxhash64), so group sizes and representatives must coincide.
    Only space/tab whitespace is used — Java's \\s and RE2's \\s disagree
    on \\x0B, so the variant text stays inside the common subset.

    Expected classes: case + trailing-SPACE variants merge (2 of 3), while
    the tab-tailed variant stays its own class, because trim() strips only
    spaces and runs BEFORE the \\s+ collapse — a deliberate probe of that
    ordering subtlety, reproduced identically in the SQL (100 groups)."""
    from geocode_spark.operators.text import with_fingerprint

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = F.concat(F.lit("Sample Text "), (F.col("doc_id") % 50).cast("string"))
    variant = (F.when(F.col("doc_id") % 3 == 0, base)
               .when(F.col("doc_id") % 3 == 1,
                     F.concat(F.upper(base), F.lit("  ")))
               .otherwise(F.concat(F.lit("  "), F.lower(base), F.lit(" \t"))))
    inp = docs.select("doc_id", variant.alias("text"))
    return (with_fingerprint(inp)
            .groupBy("fingerprint")
            .agg(F.min("doc_id").alias("min_id"),
                 F.count("*").alias("n_docs"))
            .select("min_id", "n_docs"))


def _double_vecs(df):
    return df.withColumn("embedding",
                         F.expr("transform(embedding, x -> cast(x as double))"))


def q_ann_topk(spark, sf_dir):
    from geocode_spark.operators.similarity import brute_force_topk

    emb = _double_vecs(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = brute_force_topk(emb, queries, k=10)
    return out.select("query_id", "vec_id", "rank")


def q_ann_topk_lsh(spark, sf_dir):
    """LSH ANN in its exhaustive-probe configuration: hamming_probes ==
    bits means every bucket is probed, so the result EQUALS brute-force
    top-k and the brute-force oracle hash-verifies the complete sketch ->
    probe-explode -> bucket-join -> re-rank plumbing (a wrong bucket id or
    a dropped probe would break the hash). Production recall at selective
    settings (bits=8..16, radius 1) is covered by the recall-floor
    tests (tests/test_similarity_ivf.py)."""
    from geocode_spark.operators.similarity import lsh_topk

    emb = _double_vecs(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = lsh_topk(emb, queries, dim=64, k=10, bits=2, hamming_probes=2)
    return out.select("query_id", "vec_id", "rank")


def q_ann_topk_ivf(spark, sf_dir):
    """IVF ANN in its exhaustive-probe configuration: nprobe == n_centroids
    probes every inverted list, so the result EQUALS brute-force top-k and
    the brute-force oracle hash-verifies the full train -> assign -> probe
    -> per-list join -> re-rank plumbing (a row lost to a bad assignment
    would break the hash). Selective-nprobe recall is covered by the
    recall-floor tests (tests/test_similarity_ivf.py)."""
    from geocode_spark.operators.similarity import ivf_topk

    emb = _double_vecs(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = ivf_topk(emb, queries, dim=64, k=10, n_centroids=8, nprobe=8)
    return out.select("query_id", "vec_id", "rank")


def q_pages_iceberg_scan(spark, sf_dir):
    """S11 through the REAL metadata layer: the pages corpus is committed
    into an Iceberg table (sources/iceberg.py — from-scratch Avro manifests
    + snapshot metadata) as snapshot 1 with deliberately corrupted text,
    then OVERWRITTEN by snapshot 2 with the true rows. read_pages resolves
    the current snapshot through version-hint -> metadata json -> manifest
    list -> manifests; the oracle reads the plain parquet. The hash matches
    only if snapshot isolation is exact — reading snapshot 1, unioning both
    snapshots, or dropping a data file all fail the check."""
    import shutil

    from geocode_spark.sources import iceberg
    from geocode_spark.sources.loaders import read_pages

    pages = spark.read.parquet(f"{FIX}/pages.parquet") \
        .select("url", "text", "lang")
    tbl = "/tmp/geocode_spark_pages_iceberg_r3"
    ok = False
    try:
        ok = (iceberg.is_iceberg_table(spark, tbl)
              and iceberg.current_snapshot_id(spark, tbl) == 2)
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(tbl, ignore_errors=True)
        iceberg.write_iceberg(
            spark, pages.withColumn("text", F.reverse(F.col("text"))), tbl)
        iceberg.write_iceberg(spark, pages, tbl, mode="overwrite")
    return read_pages(spark, tbl).select("url", "text", "lang")


def q_cosine_pairs(spark, sf_dir):
    from geocode_spark.operators.dedup import embedding_cosine_pairs

    emb = _double_vecs(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return embedding_cosine_pairs(emb, threshold=0.3).select("id_a", "id_b")


def q_cosine_pairs_bucketed(spark, sf_dir):
    """The LSH-BUCKETED scale path in its exhaustive configuration:
    bits=0 puts every vector in one bucket, so the sketch -> bucket-join
    -> pair-filter plumbing must equal the exact all-pairs result and the
    same brute-force oracle hash-verifies it (a dropped vector or a wrong
    bucket key breaks the hash). Selective-bits recall behavior stays
    covered by pytest."""
    from geocode_spark.operators.dedup import embedding_cosine_pairs

    emb = _double_vecs(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return embedding_cosine_pairs(emb, threshold=0.3, method="bucketed",
                                  dim=64, bits=0).select("id_a", "id_b")


def q_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = lambda c: F.col(c).cast("decimal(18,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
             F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
             F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
              .cast("double").alias("sum_disc_price"),
             F.count("*").alias("count_order"))
    )


def q_orders_by_nation(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count("*").alias("n_orders"),
             F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
              .cast("double").alias("total_price"))
    )


def q_top_orders_window(spark, sf_dir):
    from pyspark.sql import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey"))
    return (o.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("o_custkey", "o_orderkey", "rnk"))


def q_set_ops(spark, sf_dir):
    """intersect/except coverage: customers with orders in BOTH priority
    groups minus those with any high-value order."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT") \
        .select("o_custkey")
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    big = o.filter(F.col("o_totalprice") > 400000).select("o_custkey")
    return urgent.intersect(low).exceptAll(big.distinct()) \
        .select(F.col("o_custkey").alias("custkey"))


def q_stream_mention_counts(spark, sf_dir):
    """Structured Streaming end-to-end with a value oracle: file stream ->
    watermark -> explode mentions -> tumbling-window counts, drained with
    trigger(availableNow) into a memory sink in complete mode. On bounded
    input the result equals the batch aggregation, so the DuckDB
    date_trunc oracle is exact — upgrading §2.9 from pytest-only to
    hash-verified."""
    import shutil
    import tempfile
    import uuid

    from geocode_spark.streaming.geocode_stream import windowed_mention_counts

    src = Path(tempfile.mkdtemp(prefix="stream_pages_"))
    shutil.copy(f"{FIX}/pages.parquet", src / "part-0.parquet")
    schema = spark.read.parquet(f"{FIX}/pages.parquet").schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    counts = windowed_mention_counts(stream, window="1 hour",
                                     watermark="2 hours")
    name = f"mentions_{uuid.uuid4().hex[:8]}"
    q = (counts.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.table(name)


def q_sessionize(spark, sf_dir):
    """The engine's one custom STATEFUL streaming operator
    (applyInPandasWithState sessionization), hash-verified: the bounded
    events table replays as a single-file availableNow stream, so every
    user's events arrive in one state update and the emitted rows are
    exactly the CLOSED sessions — all but each user's last session. The
    DuckDB oracle rebuilds sessions with lag + a cumulative session-id
    window and drops each user's final session. Session membership is
    order-insensitive at equal timestamps (gap 0 never splits), so the
    comparison is deterministic."""
    import tempfile
    import uuid

    from geocode_spark.streaming.sessionize import sessionize

    src = tempfile.mkdtemp(prefix="gs_sessionize_src_")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(df.schema).parquet(src)
              .withColumn("ts", F.col("ts").cast("timestamp")))
    out = sessionize(stream, gap_seconds=600)
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    return spark.table(name).select(
        "user_id", "session_start", "session_end", "n_events",
        F.round("total_value", 6).alias("total_value"))


def q_events_rollup(spark, sf_dir):
    """Rollup aggregation (subtotals + grand total) — beyond the reference's
    flat groupbys; NULL grouping indicator hash-compared with the oracle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.rollup("event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,4)"))
              .cast("double").alias("total_value"))
    )


def q_anti_semi_joins(spark, sf_dir):
    """Left-anti AND left-semi join coverage in one driver row (50-query
    harness cap; separate hash-green queries in rounds 1-3): customers
    with no urgent order vs customers with >=1, labeled — the two sets
    partition the customer table, and each side remains independently
    hash-verified via the label. (Plain no-orders is empty at this SF —
    a 0-row anti match would check nothing.)"""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .filter(F.col("o_orderpriority") == "1-URGENT")
    anti = (c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
            .select(F.lit("anti").alias("join_kind"), "c_custkey", "c_name"))
    semi = (c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
            .select(F.lit("semi").alias("join_kind"), "c_custkey", "c_name"))
    return anti.unionByName(semi)


def q_events_hourly(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,4)"))
              .cast("double").alias("total_value"))
    )


def q_media_meta(spark, sf_dir):
    """Multimodal decode through the REAL from-scratch stdlib codecs
    (functions/media.py: BMP + PNG incl. palette/tRNS and
    Adam7-interlaced layouts + baseline JFIF JPEG + RIFF/WAVE PCM): the
    fixture corpus holds actual format bytes, the golden table holds the
    GENERATION-TIME truth (dimensions/duration chosen before encoding) —
    so a hash match proves bytes -> decode recovers real metadata, not a
    byte-count fake."""
    from geocode_spark.operators.multimodal import with_media_meta

    media = spark.read.parquet(f"{FIX}/media.parquet")
    return with_media_meta(media, binary_col="payload").select(
        "media_id",
        F.col("media.media_type").alias("media_type"),
        F.col("media.n_bytes").alias("n_bytes"),
        F.col("media.width").alias("width"),
        F.col("media.height").alias("height"),
        F.col("media.duration_ms").alias("duration_ms"))


def q_media_features(spark, sf_dir):
    """Content-level media features over DECODED pixels/samples (luma
    histogram for images, PCM amplitude histogram for audio, byte
    histogram fallback), hash-verified against generation-time goldens
    computed from the SOURCE arrays — a byte-level histogram could never
    match across BMP vs PNG containers, so the match proves real decode.
    Flattened to 16 scalar columns (exact float equality; integer-derived
    ratios are bit-stable across numpy and the golden parquet)."""
    from geocode_spark.operators.multimodal import extract_features

    media = spark.read.parquet(f"{FIX}/media.parquet")
    out = extract_features(media, binary_col="payload", dim=16)
    return out.select(
        "media_id",
        *[F.col("features")[i].alias(f"f{i:02d}") for i in range(16)])


def q_media_resize(spark, sf_dir):
    """Real image resize: decode BMP/PNG/JPEG -> nearest-neighbor
    resample -> re-encode 24-bit BMP; output bytes hashed (sha256)
    against goldens produced from the source pixel arrays at generation
    time (JPEG fixtures are flat-tile images, the class baseline JPEG
    round-trips losslessly — fixtures.build_media)."""
    from geocode_spark.operators.multimodal import resize_media

    media = spark.read.parquet(f"{FIX}/media.parquet") \
        .filter(F.col("kind").isin("bmp", "png_gray", "png_rgb",
                                   "png_ga", "png_rgba",
                                   "png_pal", "png_adam7", "png16",
                                   "gif",
                                   "jpeg_gray", "jpeg_420", "jpeg_prog"))
    out = resize_media(media, binary_col="payload", width=8, height=6,
                       strict=True)
    return out.select("media_id",
                      F.sha2(F.col("resized"), 256).alias("resized_sha"),
                      "resized_width", "resized_height")


def q_media_frames(spark, sf_dir):
    """Real frame sampling across modalities: WAV payloads sliced into
    block-aligned PCM segments, MJPEG AVI videos into evenly sampled
    frame chunks (each a standalone decodable JPEG), MP3 streams into
    self-delimiting MPEG frames; per-frame byte counts + sha256 vs
    goldens hashed from the exact generation-time frame bytes."""
    from geocode_spark.operators.multimodal import frame_sample

    media = spark.read.parquet(f"{FIX}/media.parquet") \
        .filter(F.col("kind").isin("wav_mono", "wav_stereo",
                                   "avi", "mp3"))
    out = frame_sample(media, binary_col="payload", n_frames=4)
    return out.select("media_id", "frame_idx",
                      F.length("frame_bytes").alias("frame_n_bytes"),
                      F.sha2("frame_bytes", 256).alias("frame_sha"))


def q_raster_tiling(spark, sf_dir):
    """Raster<->vector tiling (north-rule surface), three labeled parts
    in one result:

    * 'cell'  — distributed VECTOR->RASTER (Arrow-map covering-cells
      over the 64-polygon complex geoms table): (i, j, interior) per
      covering cell.
    * 'span'  — RASTER->VECTOR dissolve into maximal scanline runs
      (pure-Catalyst gaps-and-islands windows): (i, j_lo, j_hi).
    * 'zonal' — Raptor-style raster/vector combine (cell equi-join +
      partial agg) of a deterministic value raster (value = cell % 997):
      (n_cells, val_sum, n_interior).

    Oracle: fixtures/raster_cells_golden.parquet — an INDEPENDENT
    generation-time rasterizer (pnpoly PIP + Liang-Barsky edge clipping
    + bit-loop Morton, vs the engine's y-bucketed ray-cast +
    separating-axis test + mask-cascade Morton) — with the span/zonal
    algebra recomputed by DuckDB SQL."""
    from geocode_spark.operators.raster import (rasterize_regions,
                                                raster_to_spans, zonal_stats)

    geoms = spark.read.parquet(f"{FIX}/prepared/complex/geoms.parquet")
    raster = rasterize_regions(geoms, res=13)
    cells = raster.select(
        F.lit("cell").alias("part"), "region_id",
        F.col("cell_i").alias("k"), F.col("cell_j").alias("v1"),
        F.col("interior").cast("long").alias("v2"))
    spans = raster_to_spans(raster).select(
        F.lit("span").alias("part"), "region_id",
        F.col("cell_i").alias("k"), F.col("j_lo").alias("v1"),
        F.col("j_hi").alias("v2"))
    values = (raster.select("cell_id").distinct()
              .withColumn("value", F.col("cell_id") % F.lit(997)))
    zonal = zonal_stats(raster, values).select(
        F.lit("zonal").alias("part"), "region_id",
        F.col("n_cells").alias("k"), F.col("val_sum").alias("v1"),
        F.col("n_interior").alias("v2"))
    return cells.unionByName(spans).unionByName(zonal)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: reverse-geocode synthetic points from sf0.001 events into
    the fixture LLSOA regions via the cell-index + ray-cast engine."""
    return q_reverse_geocode_llsoa(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # REGISTRY SIZE NOTE: the driver harness records at most 50 queries
    # (round 3 registered 51 and CORRECTNESS_r03 recorded exactly the
    # first 50 — set_ops, position 51, was silently dropped despite being
    # green). To keep EVERY operator on the correctness surface, closely
    # related queries that were separately hash-green in rounds 1-3 are
    # merged into labeled unions (nuts3 vintages; the three centroid
    # lookups; anti+semi joins; forward+inverse CRS; quality+lang) — the
    # label column keys every row, so each merged half is still
    # independently value-hashed. 49 entries registered.
    return {
        "reverse_geocode_llsoa": q_reverse_geocode_llsoa,
        "reverse_geocode_llsoa_join": q_reverse_geocode_llsoa_join,
        "reverse_geocode_gsp": q_reverse_geocode_gsp,
        "reverse_geocode_nuts3": q_reverse_geocode_nuts3,
        "reverse_geocode_llsoa_dz": q_reverse_geocode_llsoa_dz,
        "reverse_geocode_dno": q_reverse_geocode_dno,
        "reverse_geocode_knn": q_reverse_geocode_knn,
        "reverse_geocode_nuts3_vintages": q_reverse_geocode_nuts3_vintages,
        "reverse_geocode_gsp_20181031": q_reverse_geocode_gsp_20181031,
        "crs_kernels": q_crs_kernels,
        "cell_index": q_cell_index,
        "extract_postcodes": q_extract_postcodes,
        "forward_geocode": q_forward_geocode,
        "partial_postcode": q_partial_postcode,
        "centroid_lookups": q_centroid_lookups,
        "llsoa_from_postcode": q_llsoa_from_postcode,
        "gsp_expand": q_gsp_expand,
        "exact_dedup": q_exact_dedup,
        "exact_dup_groups": q_exact_dup_groups,
        "dup_clusters": q_dup_clusters,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "token_stats": q_token_stats,
        "quality_lang": q_quality_lang,
        "doc_fingerprint": q_doc_fingerprint,
        "repetition_scores": q_repetition_scores,
        "contamination": q_contamination,
        "url_canonical": q_url_canonical,
        "domain_stats": q_domain_stats,
        "ann_topk": q_ann_topk,
        "ann_topk_lsh": q_ann_topk_lsh,
        "ann_topk_ivf": q_ann_topk_ivf,
        "pages_iceberg_scan": q_pages_iceberg_scan,
        "cosine_pairs": q_cosine_pairs,
        "cosine_pairs_bucketed": q_cosine_pairs_bucketed,
        "media_meta": q_media_meta,
        "media_features": q_media_features,
        "media_resize": q_media_resize,
        "media_frames": q_media_frames,
        "pricing_summary": q_pricing_summary,
        "orders_by_nation": q_orders_by_nation,
        "top_orders_window": q_top_orders_window,
        "events_hourly": q_events_hourly,
        "stream_mention_counts": q_stream_mention_counts,
        "sessionize": q_sessionize,
        "events_rollup": q_events_rollup,
        "anti_semi_joins": q_anti_semi_joins,
        "set_ops": q_set_ops,
        "raster_tiling": q_raster_tiling,
    }


def oracle_sql() -> dict[str, str]:
    pages = f"read_parquet('{FIX}/pages.parquet')"
    cpo = f"read_parquet('{FIX}/cpo_geo.parquet')"
    regex = UK_POSTCODE_REGEX  # DuckDB string literals keep backslashes literal

    region_oracle = lambda parquet, modulus, select, extra_join="": f"""
WITH {_points_sql(parquet, modulus)}
SELECT {select}
FROM coords c
LEFT JOIN sq r ON c.longitude > r.xmin AND c.longitude < r.xmax
             AND c.latitude > r.ymin AND c.latitude < r.ymax
{extra_join}
"""

    sql = {}
    sql["reverse_geocode_llsoa"] = region_oracle(
        f"{FIX}/llsoa_regions.parquet", 6, "c.row_id, r.region_id")
    sql["reverse_geocode_llsoa_join"] = sql["reverse_geocode_llsoa"]
    sql["reverse_geocode_gsp"] = region_oracle(
        f"{FIX}/gsp_regions.parquet", 3,
        "c.row_id, r.region_id AS gsp, r.GSPGroup AS gsp_group")
    sql["reverse_geocode_nuts3"] = region_oracle(
        f"{FIX}/nuts_regions_l3.parquet", 4, "c.row_id, r.region_id")
    sql["reverse_geocode_llsoa_dz"] = region_oracle(
        f"{FIX}/llsoa_regions.parquet", 6,
        "c.row_id, coalesce(dz.datazone, r.region_id) AS region_id",
        f"LEFT JOIN read_parquet('{FIX}/datazone_lookup.parquet') dz "
        "ON dz.llsoa_code = r.region_id")

    sql["reverse_geocode_dno"] = f"""
WITH {_points_sql(f"{FIX}/dno_regions.parquet", 3)},
matched AS (
  SELECT c.row_id, r.region_id, r.region_seq,
         row_number() OVER (PARTITION BY c.row_id ORDER BY r.region_seq) AS rn
  FROM coords c
  JOIN sq r ON c.longitude > r.xmin AND c.longitude < r.xmax
           AND c.latitude > r.ymin AND c.latitude < r.ymax)
SELECT c.row_id, m.region_id AS dno
FROM coords c LEFT JOIN matched m ON m.row_id = c.row_id AND m.rn = 1
"""

    # J5 metre-unit bounded kNN: exact point-to-box distance with the same
    # METERS_PER_DEG constant and cos(lat) x-scaling the engine kernel uses
    # (geometry.dist_to_polygon_m). Points are strictly east of their box so
    # the nearest feature is the right edge: both sides compute
    # sqrt((cos(lat)*(lon-xmax))^2) * 111320 over identical IEEE inputs.
    sql["reverse_geocode_knn"] = f"""
WITH pts AS (
  SELECT event_id AS row_id, event_id % 5 AS sqi,
         0.05 + 0.9 * ((event_id % 211) * 1.0 / 211.0) AS fx,
         0.05 + 0.9 * ((event_id % 199) * 1.0 / 199.0) AS fy
  FROM events),
sq AS (SELECT * FROM read_parquet('{FIX}/llsoa_regions.parquet')),
coords AS (
  SELECT p.row_id,
         s.ymin + p.fy * (s.ymax - s.ymin) AS latitude,
         s.xmax + 0.001 + p.fx * 0.35 AS longitude
  FROM pts p LEFT JOIN sq s ON s.region_seq = p.sqi),
gaps AS (
  SELECT c.row_id, r.region_id,
         cos(radians(c.latitude))
           * greatest(r.xmin - c.longitude, c.longitude - r.xmax, 0.0) AS gx,
         greatest(r.ymin - c.latitude, c.latitude - r.ymax, 0.0) AS gy
  FROM coords c CROSS JOIN sq r),
dists AS (
  SELECT row_id, region_id, sqrt(gx * gx + gy * gy) * 111320.0 AS dist,
         row_number() OVER (PARTITION BY row_id
                            ORDER BY sqrt(gx * gx + gy * gy) * 111320.0,
                                     region_id) AS rn
  FROM gaps),
best AS (SELECT row_id, region_id, dist FROM dists
         WHERE rn = 1 AND dist <= 15000.0)
SELECT c.row_id, b.region_id, round(b.dist, 1) AS knn_dist
FROM coords c LEFT JOIN best b USING (row_id)
"""

    # year-vintage routing, both vintages labeled in one result (see the
    # registry-size note in queries()): points from the 2021 squares,
    # containment vs each vintage's squares — rows near a 2021 boundary
    # are NULL only in 2016
    _nuts21 = region_oracle(
        f"{FIX}/nuts_regions_l3_2021.parquet", 4, "c.row_id, r.region_id")
    _nuts16 = f"""
WITH {_points_sql(f"{FIX}/nuts_regions_l3_2021.parquet", 4)}
SELECT c.row_id, r.region_id
FROM coords c
LEFT JOIN read_parquet('{FIX}/nuts_regions_l3_2016.parquet') r
  ON c.longitude > r.xmin AND c.longitude < r.xmax
 AND c.latitude > r.ymin AND c.latitude < r.ymax
"""
    sql["reverse_geocode_nuts3_vintages"] = f"""
SELECT 2021 AS vintage, row_id, region_id FROM ({_nuts21})
UNION ALL
SELECT 2016 AS vintage, row_id, region_id FROM ({_nuts16})
"""

    # 20181031 GSP vintage: the oracle works ENTIRELY in EPSG:27700 space
    # (bbox containment on the BNG squares + many:many lookup), independently
    # checking the engine's E/N->lat/lon kernel + BNG prep branch end-to-end
    sql["reverse_geocode_gsp_20181031"] = f"""
WITH pts AS (
  SELECT event_id AS row_id, event_id % 3 AS sqi,
         0.05 + 0.9 * ((event_id % 211) * 1.0 / 211.0) AS fx,
         0.05 + 0.9 * ((event_id % 199) * 1.0 / 199.0) AS fy
  FROM events),
sq AS (SELECT * FROM read_parquet('{FIX}/gsp_regions_20181031_bng.parquet')),
en AS (
  SELECT p.row_id,
         CASE WHEN p.sqi = 2 THEN 650000.0 + p.fx * 1000.0
              ELSE s.xmin + p.fx * (s.xmax - s.xmin) END AS easting,
         CASE WHEN p.sqi = 2 THEN 1150000.0 + p.fy * 1000.0
              ELSE s.ymin + p.fy * (s.ymax - s.ymin) END AS northing
  FROM pts p LEFT JOIN sq s ON s.region_seq = p.sqi)
SELECT e.row_id, r.region_id AS gsp, l.gsp_name, l.gnode
FROM en e
LEFT JOIN sq r ON e.easting > r.xmin AND e.easting < r.xmax
              AND e.northing > r.ymin AND e.northing < r.ymax
LEFT JOIN read_parquet('{FIX}/gsp_lookup_20181031.parquet') l
  ON l.region_id = r.region_id
"""

    # F6 forward CRS kernel: independent DuckDB transcription of the public
    # OS "A guide to coordinate systems in Great Britain" formulas exactly as
    # crs.py sequences them (WGS84 geodetic -> cartesian -> 7-param Helmert
    # -> Airy geodetic via fixed 8-step iteration -> transverse Mercator).
    # Ellipsoid/Helmert constants are spelled as the same double expressions.
    # NB every literal carries an e0 exponent so DuckDB types it DOUBLE —
    # plain decimal literals are DECIMAL there and would change (or overflow)
    # the arithmetic vs the numpy float64 kernel
    _e2w = "((6378137e0*6378137e0 - 6356752.3141e0*6356752.3141e0)/(6378137e0*6378137e0))"
    _e2a = "((6377563.396e0*6377563.396e0 - 6356256.909e0*6356256.909e0)/(6377563.396e0*6377563.396e0))"
    _rx = "radians(-0.1502e0/3600e0)"
    _ry = "radians(-0.2470e0/3600e0)"
    _rz = "radians(-0.8421e0/3600e0)"
    _sp1 = "(1e0 + 20.4894e-6)"
    _na = "((6377563.396e0 - 6356256.909e0)/(6377563.396e0 + 6356256.909e0))"
    _crs_fwd = f"""
WITH RECURSIVE
pts AS (
  SELECT event_id AS row_id,
         radians(50e0 + (event_id % 1000) * 8e0 / 1000e0) AS lat,
         radians(-6e0 + (event_id % 997) * 7e0 / 997e0) AS lon
  FROM events),
nuw AS (SELECT row_id, lat, lon,
        6378137e0 / sqrt(1e0 - {_e2w} * sin(lat) * sin(lat)) AS nu FROM pts),
xyz AS (SELECT row_id,
        nu * cos(lat) * cos(lon) AS x,
        nu * cos(lat) * sin(lon) AS y,
        (1e0 - {_e2w}) * nu * sin(lat) AS z FROM nuw),
helm AS (SELECT row_id,
         -446.448e0 + {_sp1} * x - {_rz} * y + {_ry} * z AS x2,
         125.157e0 + {_rz} * x + {_sp1} * y - {_rx} * z AS y2,
         -542.060e0 - {_ry} * x + {_rx} * y + {_sp1} * z AS z2
         FROM xyz),
pp AS (SELECT row_id, x2, y2, z2, sqrt(x2 * x2 + y2 * y2) AS p FROM helm),
it AS (
  SELECT row_id, p, z2, 0 AS i, atan2(z2, p * (1e0 - {_e2a})) AS lat FROM pp
  UNION ALL
  SELECT row_id, p, z2, i + 1,
         atan2(z2 + {_e2a} * (6377563.396e0 / sqrt(1e0 - {_e2a} * sin(lat) * sin(lat))) * sin(lat), p)
  FROM it WHERE i < 8),
os36 AS (SELECT t.row_id, t.lat, atan2(h.y2, h.x2) AS lon
         FROM it t JOIN pp h USING (row_id) WHERE t.i = 8),
arc AS (SELECT row_id, lat, lon,
        lat - radians(49e0) AS dlat, lat + radians(49e0) AS slat FROM os36),
em AS (SELECT row_id, lat, lon,
       6356256.909e0 * 0.9996012717e0 * (
         (1e0 + {_na} + 1.25e0 * {_na} * {_na} + 1.25e0 * {_na} * {_na} * {_na}) * dlat
         - (3e0 * {_na} + 3e0 * {_na} * {_na} + (21e0/8e0) * {_na} * {_na} * {_na})
           * sin(dlat) * cos(slat)
         + ((15e0/8e0) * ({_na} * {_na} + {_na} * {_na} * {_na}))
           * sin(2e0 * dlat) * cos(2e0 * slat)
         - (35e0/24e0) * {_na} * {_na} * {_na} * sin(3e0 * dlat) * cos(3e0 * slat)
       ) AS m FROM arc),
trig AS (SELECT row_id, lat, lon, m, sin(lat) AS sl, cos(lat) AS cl,
         tan(lat) AS tl FROM em),
nr AS (SELECT *,
       6377563.396e0 * 0.9996012717e0 / sqrt(1e0 - {_e2a} * sl * sl) AS nu,
       6377563.396e0 * 0.9996012717e0 * (1e0 - {_e2a})
         * pow(1e0 - {_e2a} * sl * sl, -1.5e0) AS rho
       FROM trig),
terms AS (SELECT row_id, lon, nu / rho - 1e0 AS eta2,
       m + (-100000e0) AS ti,
       (nu / 2e0) * sl * cl AS tii,
       (nu / 24e0) * sl * cl * cl * cl
         * (5e0 - tl * tl + 9e0 * (nu / rho - 1e0)) AS tiii,
       (nu / 720e0) * sl * cl * cl * cl * cl * cl
         * (61e0 - 58e0 * tl * tl + tl * tl * tl * tl) AS tiiia,
       nu * cl AS tiv,
       (nu / 6e0) * cl * cl * cl * (nu / rho - tl * tl) AS tv,
       (nu / 120e0) * cl * cl * cl * cl * cl
         * (5e0 - 18e0 * tl * tl + tl * tl * tl * tl
            + 14e0 * (nu / rho - 1e0) - 58e0 * tl * tl * (nu / rho - 1e0)) AS tvi,
       lon - radians(-2e0) AS dl
       FROM nr)
SELECT row_id,
       round(400000e0 + tiv * dl + tv * dl * dl * dl
             + tvi * dl * dl * dl * dl * dl, 1) AS eastings,
       round(ti + tii * dl * dl + tiii * dl * dl * dl * dl
             + tiiia * dl * dl * dl * dl * dl * dl, 1) AS northings
FROM terms
"""

    # F6 inverse: National Grid E/N -> WGS84, the same OS formula chain
    # crs.py runs (TM inverse with 10 fixed meridional-arc iterations,
    # inverse 7-param Helmert, 8 fixed geodetic iterations on WGS84).
    def _arc(lat):
        """OS meridional arc M (b*F0*m) for Airy, as a SQL expression."""
        return (
            f"(6356256.909e0 * 0.9996012717e0 * ("
            f"(1e0 + {_na} + 1.25e0 * {_na} * {_na} + 1.25e0 * {_na} * {_na} * {_na})"
            f" * (({lat}) - radians(49e0))"
            f" - (3e0 * {_na} + 3e0 * {_na} * {_na} + (21e0/8e0) * {_na} * {_na} * {_na})"
            f" * sin(({lat}) - radians(49e0)) * cos(({lat}) + radians(49e0))"
            f" + ((15e0/8e0) * ({_na} * {_na} + {_na} * {_na} * {_na}))"
            f" * sin(2e0 * (({lat}) - radians(49e0))) * cos(2e0 * (({lat}) + radians(49e0)))"
            f" - (35e0/24e0) * {_na} * {_na} * {_na}"
            f" * sin(3e0 * (({lat}) - radians(49e0))) * cos(3e0 * (({lat}) + radians(49e0)))"
            f"))")

    _af0 = "(6377563.396e0 * 0.9996012717e0)"
    _crs_inv = f"""
WITH RECURSIVE
pts AS (
  SELECT event_id AS row_id,
         150000e0 + (event_id % 1000) * 400e0 AS e,
         50000e0 + (event_id % 997) * 900e0 AS n
  FROM events),
itm AS (
  SELECT row_id, e, n, 0 AS i,
         radians(49e0) + (n - (-100000e0)) / {_af0} AS lat
  FROM pts
  UNION ALL
  SELECT row_id, e, n, i + 1,
         lat + (n - (-100000e0) - {_arc('lat')}) / {_af0}
  FROM itm WHERE i < 10),
tmlat AS (SELECT row_id, e, lat FROM itm WHERE i = 10),
terms AS (
  SELECT row_id, lat, e - 400000e0 AS de,
         tan(lat) AS tl, 1e0 / cos(lat) AS sec,
         {_af0} / sqrt(1e0 - {_e2a} * sin(lat) * sin(lat)) AS nu,
         {_af0} * (1e0 - {_e2a})
           * pow(1e0 - {_e2a} * sin(lat) * sin(lat), -1.5e0) AS rho
  FROM tmlat),
os36 AS (
  SELECT row_id,
         lat - (tl / (2e0 * rho * nu)) * de * de
             + (tl / (24e0 * rho * nu * nu * nu)
                * (5e0 + 3e0 * tl * tl + (nu / rho - 1e0)
                   - 9e0 * tl * tl * (nu / rho - 1e0))) * de * de * de * de
             - (tl / (720e0 * rho * nu * nu * nu * nu * nu)
                * (61e0 + 90e0 * tl * tl + 45e0 * tl * tl * tl * tl))
               * de * de * de * de * de * de AS lat36,
         radians(-2e0)
             + (sec / nu) * de
             - (sec / (6e0 * nu * nu * nu) * (nu / rho + 2e0 * tl * tl))
               * de * de * de
             + (sec / (120e0 * nu * nu * nu * nu * nu)
                * (5e0 + 28e0 * tl * tl + 24e0 * tl * tl * tl * tl))
               * de * de * de * de * de
             - (sec / (5040e0 * nu * nu * nu * nu * nu * nu * nu)
                * (61e0 + 662e0 * tl * tl + 1320e0 * tl * tl * tl * tl
                   + 720e0 * tl * tl * tl * tl * tl * tl))
               * de * de * de * de * de * de * de AS lon36
  FROM terms),
cart AS (
  SELECT row_id,
         6377563.396e0 / sqrt(1e0 - {_e2a} * sin(lat36) * sin(lat36)) AS nu,
         lat36, lon36
  FROM os36),
xyz AS (
  SELECT row_id,
         nu * cos(lat36) * cos(lon36) AS x,
         nu * cos(lat36) * sin(lon36) AS y,
         (1e0 - {_e2a}) * nu * sin(lat36) AS z
  FROM cart),
helm AS (
  SELECT row_id,
         446.448e0 + (1e0 - 20.4894e-6) * x - radians(0.8421e0/3600e0) * y
                   + radians(0.2470e0/3600e0) * z AS x2,
         -125.157e0 + radians(0.8421e0/3600e0) * x + (1e0 - 20.4894e-6) * y
                    - radians(0.1502e0/3600e0) * z AS y2,
         542.060e0 - radians(0.2470e0/3600e0) * x
                   + radians(0.1502e0/3600e0) * y
                   + (1e0 - 20.4894e-6) * z AS z2
  FROM xyz),
pp AS (SELECT row_id, x2, y2, z2, sqrt(x2 * x2 + y2 * y2) AS p FROM helm),
itg AS (
  SELECT row_id, p, z2, 0 AS i, atan2(z2, p * (1e0 - {_e2w})) AS lat FROM pp
  UNION ALL
  SELECT row_id, p, z2, i + 1,
         atan2(z2 + {_e2w} * (6378137e0 / sqrt(1e0 - {_e2w} * sin(lat) * sin(lat))) * sin(lat), p)
  FROM itg WHERE i < 8)
SELECT t.row_id,
       round(degrees(t.lat), 5) AS latitude,
       round(degrees(atan2(h.y2, h.x2)), 5) AS longitude
FROM itg t JOIN pp h USING (row_id) WHERE t.i = 8
"""
    # both CRS directions labeled in one result (registry-size note in
    # queries()); each transcription above is unchanged from its round-3
    # hash-green form
    sql["crs_kernels"] = f"""
SELECT 'fwd' AS direction, row_id, eastings AS coord_a, northings AS coord_b
FROM ({_crs_fwd})
UNION ALL
SELECT 'inv' AS direction, row_id, latitude AS coord_a, longitude AS coord_b
FROM ({_crs_inv})
"""

    sql["cell_index"] = f"""
WITH {_points_sql(f"{FIX}/llsoa_regions.parquet", 6)}
SELECT row_id,
       CAST(floor((longitude + 180.0) / 360.0 * 32768.0) AS BIGINT) AS i,
       CAST(floor((latitude + 90.0) / 180.0 * 32768.0) AS BIGINT) AS j
FROM coords
"""

    mentions = f"""
mentions AS (
  SELECT url, unnest(regexp_extract_all(upper(text), '{regex}', 0)) AS m
  FROM {pages}),
norm AS (SELECT DISTINCT url, replace(m, ' ', '') AS postcode FROM mentions)
"""
    sql["extract_postcodes"] = f"WITH {mentions} SELECT url, postcode FROM norm"

    sql["forward_geocode"] = f"""
WITH {mentions},
j AS (
  SELECT n.url, n.postcode, c.latitude, c.longitude, c.Postcode AS matched
  FROM norm n LEFT JOIN {cpo} c ON c.Postcode = n.postcode)
SELECT url, postcode,
       round(avg(latitude), 6) AS latitude,
       round(avg(longitude), 6) AS longitude,
       CASE WHEN count(matched) > 0 THEN 1 ELSE 0 END AS match_status
FROM j GROUP BY url, postcode
"""

    sql["partial_postcode"] = f"""
WITH inputs AS (
  SELECT doc_id AS row_id,
         CASE doc_id % 4 WHEN 0 THEN 'AB1' WHEN 1 THEN 'CD2 2'
              WHEN 2 THEN 'EF3 3' ELSE 'NOPE' END AS postcode
  FROM documents),
s AS (
  SELECT row_id, postcode,
         CASE WHEN contains(postcode, ' ') THEN split_part(postcode, ' ', 1)
              ELSE postcode END AS ow,
         CASE WHEN contains(postcode, ' ') THEN split_part(postcode, ' ', 2)
              END AS iw
  FROM inputs),
j AS (
  SELECT s.row_id, s.postcode, c.latitude, c.longitude
  FROM s LEFT JOIN {cpo} c
    ON c.outward_postcode = s.ow
   AND (s.iw IS NULL OR starts_with(c.inward_postcode, s.iw)))
SELECT row_id, postcode,
       round(avg(latitude), 6) AS latitude,
       round(avg(longitude), 6) AS longitude,
       CASE WHEN count(latitude) > 0 THEN 2 ELSE 0 END AS match_status
FROM j GROUP BY row_id, postcode
"""

    llsoa_case = " ".join(
        f"WHEN {i} THEN '{k}'" for i, k in enumerate(_LLSOA_KEYS))
    _cen_llsoa = f"""
WITH keys AS (
  SELECT doc_id AS row_id, CASE doc_id % 7 {llsoa_case} END AS code
  FROM documents)
SELECT k.row_id, k.code, c.latitude, c.longitude
FROM keys k LEFT JOIN read_parquet('{FIX}/llsoa_centroids.parquet') c
  ON c.code = k.code
"""

    def name_lookup_sql(names, parquet):
        case = " ".join(f"WHEN {i} THEN '{n}'" for i, n in enumerate(names))
        return f"""
WITH keys AS (
  SELECT doc_id AS row_id, CASE doc_id % 4 {case} END AS name
  FROM documents)
SELECT k.row_id, k.name, c.latitude, c.longitude
FROM keys k LEFT JOIN read_parquet('{parquet}') c
  ON lower(replace(replace(trim(c.name), ' ', ''), ',', ''))
   = lower(replace(replace(trim(k.name), ' ', ''), ',', ''))
"""

    # all three centroid dictionaries labeled in one result (registry-size
    # note in queries()); each lookup subquery unchanged from its round-3
    # hash-green form
    _cen_cons = name_lookup_sql(
        _CONSTITUENCIES, f"{FIX}/constituency_centroids.parquet")
    _cen_lad = name_lookup_sql(_LADS, f"{FIX}/lad_centroids.parquet")
    sql["centroid_lookups"] = f"""
SELECT 'llsoa' AS entity, row_id, code AS "key", latitude, longitude
FROM ({_cen_llsoa})
UNION ALL
SELECT 'constituency' AS entity, row_id, name AS "key", latitude, longitude
FROM ({_cen_cons})
UNION ALL
SELECT 'lad' AS entity, row_id, name AS "key", latitude, longitude
FROM ({_cen_lad})
"""

    sql["llsoa_from_postcode"] = f"""
WITH {mentions}
SELECT n.url, n.postcode, l.lsoa11cd AS llsoa
FROM norm n LEFT JOIN read_parquet('{FIX}/pc_llsoa_lookup.parquet') l
  ON l.postcode = n.postcode
"""

    sql["gsp_expand"] = region_oracle(
        f"{FIX}/gsp_regions.parquet", 3,
        "c.row_id, r.region_id AS gsp, g.gnode, g.dno",
        f"LEFT JOIN read_parquet('{FIX}/gsp_lookup.parquet') g "
        "ON g.region_id = r.region_id")

    sql["exact_dedup"] = f"""
SELECT url FROM (
  SELECT url, row_number() OVER (PARTITION BY text ORDER BY url) AS rn
  FROM {pages}) WHERE rn = 1
"""
    sql["exact_dup_groups"] = f"""
SELECT min(url) AS min_url, count(*) AS n_docs
FROM {pages} GROUP BY text HAVING count(*) > 1
"""

    sql["dup_clusters"] = f"""
WITH RECURSIVE
p AS (SELECT url, text FROM {pages}),
e0 AS (
  SELECT a.url AS ua, b.url AS ub
  FROM p a JOIN p b ON a.text = b.text AND a.url < b.url),
edges AS (SELECT ua, ub FROM e0 UNION SELECT ub AS ua, ua AS ub FROM e0),
reach(u, lab) AS (
  SELECT url, url FROM p
  UNION
  SELECT e.ub, r.lab FROM reach r JOIN edges e ON e.ua = r.u)
SELECT u AS url, min(lab) AS cluster_id FROM reach GROUP BY u
"""

    sql["ngram_jaccard"] = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(text), '[ \t\n\r\f]+') AS w FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
  FROM t WHERE len(w) >= 3),
sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.2
"""

    # minhash_pairs: brute-force exact word-3-gram Jaccard over ALL page
    # pairs at the verification threshold. The Spark side reaches this set
    # through MinHash-LSH candidates + exact verification; banded recall
    # is 1 at jaccard>=0.8 on this corpus, so set equality (and hence the
    # value hash) holds — see q_minhash_pairs.
    sql["minhash_pairs"] = rf"""
WITH t AS (
  SELECT url, string_split_regex(lower(text), '[ \t\n\r\f]+') AS w FROM {pages}),
g AS (
  SELECT DISTINCT url,
         unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
  FROM t WHERE len(w) >= 3),
sizes AS (SELECT url, count(*) AS n FROM g GROUP BY url),
inter AS (
  SELECT a.url AS id_a, b.url AS id_b, count(*) AS i
  FROM g a JOIN g b ON a.gram = b.gram AND a.url < b.url
  GROUP BY 1, 2)
SELECT id_a, id_b, round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.url = id_a JOIN sizes sb ON sb.url = id_b
WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
"""

    # simhash_pairs: full transcription of the simhash definition
    # (operators/dedup.py: codepoint FNV-1a-64 + splitmix64, multiset bit
    # votes) into DuckDB hugeint mod-2^64 arithmetic, then brute-force
    # all-pairs Hamming. The chunk blocking in Spark is complete by
    # pigeonhole, so the sets must be identical — a real hash check on a
    # "non-SQL-expressible" operator.
    def _mulmod64(x: str, m: int) -> str:
        # (x * m) mod 2^64 via 32-bit split: hugeint would overflow at
        # full 64x64 products
        return (f"(((({x}) % 4294967296) * {m} "
                f"+ ((({x}) // 4294967296) * {m} % 4294967296) * 4294967296)"
                f" % 18446744073709551616::HUGEINT)")

    _fnv = _mulmod64("xor(h::UBIGINT, c::UBIGINT)::HUGEINT", 1099511628211)
    sql["simhash_pairs"] = rf"""
WITH docs AS (SELECT url AS doc_id, lower(text) AS t FROM {pages}),
tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(t, '[ \t\n\r\f]+'),
                            x -> x != '')) AS token
  FROM docs),
h0 AS (
  SELECT doc_id, list_reduce(
    list_prepend(14695981039346656037::HUGEINT,
                 list_transform(string_split(token, ''), c -> ord(c)::HUGEINT)),
    (h, c) -> {_fnv}) AS h
  FROM tok),
f1 AS (SELECT doc_id, xor(h::UBIGINT, (h // 1073741824)::UBIGINT)::HUGEINT AS s FROM h0),
f2 AS (SELECT doc_id, {_mulmod64('s', 13787848793156543929)} AS s FROM f1),
f3 AS (SELECT doc_id, xor(s::UBIGINT, (s // 134217728)::UBIGINT)::HUGEINT AS s FROM f2),
f4 AS (SELECT doc_id, {_mulmod64('s', 10723151780598845931)} AS s FROM f3),
f5 AS (SELECT doc_id, xor(s::UBIGINT, (s // 2147483648)::UBIGINT)::UBIGINT AS h FROM f4),
votes AS (
  SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM f5, range(64) r(j) GROUP BY doc_id, j),
sh AS (
  SELECT doc_id, sum(CASE WHEN v > 0 THEN ((1::UBIGINT << j))::HUGEINT
                          ELSE 0::HUGEINT END) AS s
  FROM votes GROUP BY doc_id),
fin AS (
  SELECT d.doc_id,
         CAST(CASE WHEN coalesce(s.s, 0) >= 9223372036854775808::HUGEINT
                   THEN coalesce(s.s, 0) - 18446744073709551616::HUGEINT
                   ELSE coalesce(s.s, 0) END AS BIGINT) AS simhash
  FROM docs d LEFT JOIN sh s USING (doc_id))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM fin a JOIN fin b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""

    sql["pages_iceberg_scan"] = f"""
SELECT url, text, lang FROM {pages}
"""

    sql["token_stats"] = r"""
SELECT doc_id,
       len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x != '')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^ \t\n\x0B\f\rA-Za-z0-9]', 0)) AS re_tokens
FROM documents
"""

    stop_en = "['the','and','of','to','in','is','that','it','for','with']"
    _quality_sql = rf"""
WITH base AS (
  SELECT doc_id, length(text) AS n_chars_m,
         list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'), x -> x != '') AS toks,
         len(regexp_extract_all(text, '[.,;:!?]', 0)) AS n_punct
  FROM documents),
feat AS (
  SELECT doc_id, n_chars_m, len(toks) AS n_words,
         len(list_intersect(list_distinct(toks), {stop_en})) AS stopword_hits,
         CASE WHEN n_chars_m > 0 THEN n_punct * 1.0 / n_chars_m ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(toks) > 0
              THEN (n_chars_m - len(toks) + 1) * 1.0 / len(toks)
              ELSE 0.0 END AS mean_word_len
  FROM base)
SELECT doc_id, n_words, stopword_hits,
       round(punct_ratio, 6) AS punct_ratio,
       round(mean_word_len, 6) AS mean_word_len,
       round((CASE WHEN n_words >= 5 THEN 0.4 ELSE 0.0 END
            + CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10 THEN 0.3 ELSE 0.0 END
            + CASE WHEN stopword_hits >= 2 THEN 0.2 ELSE 0.0 END
            + CASE WHEN punct_ratio <= 0.2 THEN 0.1 ELSE 0.0 END), 2) AS quality_score
FROM feat
"""

    markers = {
        "en": "['the','and','of','to','in','is','that','it','for','with']",
        "fr": "['le','la','les','de','des','et','est','une','dans','pour']",
        "de": "['der','die','das','und','ist','nicht','ein','mit','von','zu']",
        "es": "['el','la','los','de','que','y','es','en','una','por']",
    }
    score_cols = ",\n       ".join(
        f"len(list_intersect(w, {v})) AS s_{k}" for k, v in markers.items())
    _lang_sql = rf"""
WITH t AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                                   x -> x != '')) AS w
  FROM documents),
s AS (SELECT doc_id, {score_cols} FROM t)
SELECT doc_id,
       CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'unk'
            WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
            WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
            WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
            ELSE 'es' END AS lang_pred
FROM s
"""
    # quality + lang-id composed in one result (registry-size note in
    # queries()); both transcriptions above unchanged from round 3
    sql["quality_lang"] = f"""
SELECT q.*, l.lang_pred
FROM ({_quality_sql}) q JOIN ({_lang_sql}) l USING (doc_id)
"""

    sql["doc_fingerprint"] = r"""
WITH v AS (
  SELECT doc_id,
         CASE doc_id % 3
           WHEN 0 THEN 'Sample Text ' || CAST(doc_id % 50 AS VARCHAR)
           WHEN 1 THEN upper('Sample Text ' || CAST(doc_id % 50 AS VARCHAR)) || '  '
           ELSE '  ' || lower('Sample Text ' || CAST(doc_id % 50 AS VARCHAR)) || ' ' || chr(9)
         END AS text
  FROM documents),
t AS (
  SELECT doc_id,
         regexp_replace(trim(lower(text)), '[ \t\n\r\f]+', ' ', 'g') AS norm
  FROM v)
SELECT min(doc_id) AS min_id, count(*) AS n_docs
FROM t GROUP BY norm
"""

    # repetition_scores: duplicate-3-gram fraction per document. Tokens
    # are empty-filtered (matching with_repetition_score); grams KEEP
    # duplicates (that is the point).
    sql["repetition_scores"] = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                     x -> x != '') AS w
  FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_transform(range(1, len(w) - 1),
                                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
              ELSE []::VARCHAR[] END AS grams
  FROM t)
SELECT doc_id,
       len(grams) AS ngram_total,
       len(list_distinct(grams)) AS ngram_distinct,
       round(CASE WHEN len(grams) > 0
                  THEN 1.0 - len(list_distinct(grams)) * 1.0 / len(grams)
                  ELSE 0.0 END, 6) AS repetition_score
FROM g
"""

    # contamination: corpus docs sharing >= 1 distinct 4-gram with the
    # benchmark slice (doc_id % 17 == 0) — 38 flagged docs at sf0.01, a
    # discriminating set. Tokenization mirrors ngram_tokens (no
    # empty-filter, distinct grams per doc).
    sql["contamination"] = r"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(lower(text), '[ \t\n\r\f]+') AS w
  FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(w) - 2),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                     || w[i+3])) AS gram
  FROM t WHERE len(w) >= 4),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0),
corpus AS (SELECT doc_id, gram FROM g WHERE doc_id % 17 != 0)
SELECT doc_id, count(*) AS contaminated_grams
FROM corpus JOIN bench USING (gram)
GROUP BY doc_id HAVING count(*) >= 1
"""

    # url_canonical: the identical deterministic dirtying + the full
    # canonicalization pipeline transcribed step for step (explicit char
    # classes only — Java regex and RE2 agree on every pattern here).
    sql["url_canonical"] = rf"""
WITH p AS (SELECT url,
                  CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) AS i
           FROM {pages}),
d AS (
  SELECT url,
         CASE i % 4
           WHEN 0 THEN 'HTTPS://Example.ORG' || substring(url, 20)
                       || '#section-2'
           WHEN 1 THEN url || '?utm_source=feed&page='
                       || CAST(i % 7 AS VARCHAR) || '&fbclid=abc'
           WHEN 2 THEN 'https://example.org:443' || substring(url, 20) || '/'
           ELSE url END AS dirty_url
  FROM p),
c1 AS (SELECT url, dirty_url,
              regexp_extract(dirty_url, '^([^#]*)', 1) AS base FROM d),
c2 AS (SELECT *, regexp_extract(base, '^([^?]*)', 1) AS pre,
              regexp_extract(base, '^[^?]*\?(.*)$', 1) AS q FROM c1),
c3 AS (SELECT *, regexp_extract(pre,
              '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)', 1) AS sh_raw FROM c2),
c4 AS (SELECT *,
              regexp_replace(regexp_replace(lower(sh_raw),
                  '^(http://[^/:]*):80$', '\1'),
                  '^(https://[^/:]*):443$', '\1') AS sh,
              regexp_replace(substring(pre, length(sh_raw) + 1),
                             '/+$', '') AS path
       FROM c3),
c5 AS (SELECT *,
              array_to_string(list_filter(string_split(q, '&'),
                  x -> x != '' AND NOT regexp_matches(x,
                      '^(utm_[^=]*|fbclid|gclid|msclkid|ref)=')),
                  '&') AS qk
       FROM c4)
SELECT url, dirty_url,
       sh || path || CASE WHEN qk != '' THEN '?' || qk ELSE '' END
           AS canonical_url,
       regexp_extract(sh, '^[a-z][a-z0-9+.-]*://([^/:]*)', 1) AS domain
FROM c5
"""

    # domain_stats: per-domain doc counts + mean whitespace tokens over
    # deterministically-hosted urls (5 synthetic domains).
    sql["domain_stats"] = rf"""
WITH p AS (SELECT url, text,
                  CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) AS i
           FROM {pages}),
h AS (SELECT 'https://host' || CAST(i % 5 AS VARCHAR) || '.example.org/p/'
             || CAST(i AS VARCHAR) AS url, text FROM p),
tok AS (SELECT url,
               len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
                               x -> x != '')) AS ws_tokens
        FROM h),
dom AS (SELECT regexp_extract(lower(regexp_extract(url,
                   '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)', 1)),
                   '^[a-z][a-z0-9+.-]*://([^/:]*)', 1) AS domain,
               ws_tokens
        FROM tok)
SELECT domain, count(*) AS n_docs, round(avg(ws_tokens), 6) AS avg_ws_tokens
FROM dom GROUP BY domain
"""

    sql["ann_topk"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
s AS (SELECT q.query_id, e.vec_id,
             list_cosine_similarity(e.v, q.qv) AS cosine
      FROM e, q),
r AS (SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM s)
SELECT query_id, vec_id, rank FROM r WHERE rank <= 10
"""

    # exhaustive-probe configurations are EXACT (see q_ann_topk_lsh /
    # q_ann_topk_ivf): the brute-force oracle applies verbatim
    sql["ann_topk_lsh"] = sql["ann_topk"]
    sql["ann_topk_ivf"] = sql["ann_topk"]

    sql["cosine_pairs"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND list_cosine_similarity(a.v, b.v) >= 0.3
"""
    # bits=0 -> single bucket -> the bucketed path must equal exact
    sql["cosine_pairs_bucketed"] = sql["cosine_pairs"]

    sql["pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
              * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
         AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

    sql["orders_by_nation"] = """
SELECT n_name, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

    sql["top_orders_window"] = """
SELECT o_custkey, o_orderkey, rnk FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders) WHERE rnk <= 3
"""

    sql["set_ops"] = """
SELECT o_custkey AS custkey FROM (
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
EXCEPT ALL
SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 400000
"""

    sql["events_hourly"] = """
SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""

    # streaming windowed counts on bounded input == batch aggregation:
    # window('1 hour').start == date_trunc('hour', ts) for tumbling windows
    sql["stream_mention_counts"] = f"""
WITH m AS (
  SELECT warc_ts,
         replace(unnest(regexp_extract_all(upper(text), '{regex}', 0)),
                 ' ', '') AS postcode
  FROM {pages})
SELECT date_trunc('hour', warc_ts) AS window_start, postcode,
       count(*) AS n_mentions
FROM m GROUP BY 1, 2
"""

    # sessionize: lag -> new-session flag -> cumulative session id ->
    # per-session aggregates; DROP each user's LAST session (it is still
    # open in the operator's state on a bounded availableNow run).
    sql["sessionize"] = """
WITH l AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events),
f AS (
  SELECT user_id, ts, value,
         CASE WHEN prev IS NULL
                   OR epoch_us(ts) - epoch_us(prev) > 600000000
              THEN 1 ELSE 0 END AS new_s
  FROM l),
s AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM f),
agg AS (
  SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
         count(*) AS n_events, round(sum(value), 6) AS total_value
  FROM s GROUP BY user_id, sid),
last AS (SELECT user_id, max(sid) AS last_sid FROM agg GROUP BY user_id)
SELECT a.user_id, a.session_start, a.session_end, a.n_events, a.total_value
FROM agg a JOIN last l ON a.user_id = l.user_id AND a.sid < l.last_sid
"""

    sql["events_rollup"] = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events GROUP BY ROLLUP(event_type)
"""

    # anti + semi labeled in one result (registry-size note in queries())
    sql["anti_semi_joins"] = """
SELECT 'anti' AS join_kind, c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
UNION ALL
SELECT 'semi' AS join_kind, c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT')
"""

    # media queries: the oracle side is the GENERATION-TIME golden tables
    # (fixtures.build_media computes truth from the source arrays/params
    # BEFORE encoding; the engine side must recover it from bytes via the
    # from-scratch codecs) — casts align DuckDB's int64 parquet reads with
    # Spark's int32 result columns
    sql["media_meta"] = (
        "SELECT media_id, media_type, n_bytes, width, height, duration_ms "
        f"FROM read_parquet('{FIX}/media_meta_golden.parquet')")
    sql["media_features"] = (
        "SELECT media_id, "
        + ", ".join(f"features[{i + 1}] AS f{i:02d}" for i in range(16))
        + f" FROM read_parquet('{FIX}/media_features_golden.parquet')")
    sql["media_resize"] = (
        "SELECT media_id, resized_sha, "
        "CAST(resized_width AS INTEGER) AS resized_width, "
        "CAST(resized_height AS INTEGER) AS resized_height "
        f"FROM read_parquet('{FIX}/media_resize_golden.parquet')")
    sql["media_frames"] = (
        "SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx, "
        "CAST(frame_n_bytes AS INTEGER) AS frame_n_bytes, frame_sha "
        f"FROM read_parquet('{FIX}/media_frames_golden.parquet')")

    sql["raster_tiling"] = f"""
WITH golden AS (SELECT * FROM read_parquet('{FIX}/raster_cells_golden.parquet')),
runs AS (
  SELECT region_id, i, j,
         j - row_number() OVER (PARTITION BY region_id, i ORDER BY j) AS isl
  FROM golden)
SELECT 'cell' AS part, region_id, i AS k, j AS v1,
       CAST(interior AS BIGINT) AS v2 FROM golden
UNION ALL
SELECT 'span', region_id, i, MIN(j), MAX(j)
FROM runs GROUP BY region_id, i, isl
UNION ALL
SELECT 'zonal', region_id, COUNT(*),
       CAST(SUM(cell_id % 997) AS BIGINT),
       CAST(SUM(CASE WHEN interior THEN 1 ELSE 0 END) AS BIGINT)
FROM golden GROUP BY region_id
"""

    # every registered query has an oracle entry (the approximate ops are
    # hash-verified through their exhaustive-probe configurations; media
    # ops through generation-time goldens)
    return sql
