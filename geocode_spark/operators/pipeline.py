"""Flagship document pipeline: Common-Crawl-style pages -> geocoded docs.

The north-star query (BASELINE.json): over an Iceberg/parquet table
``(url, warc_ts, html, text, lang)``, extract UK postcodes from ``text``
(Catalyst regexp, F13), forward-geocode them against the CPO dimension
(broadcast join), reverse-geocode the resulting points into LLSOA /
constituency / GSP regions (cell-index + ray-cast), and emit one row per
(url, postcode) with cell/tile assignments. ``text`` passes through
byte-identical per url (invariant).

Plan shape: scan -> codegen'd extract+explode -> two BroadcastHashJoins
(exact and prefix CPO dimensions) -> mapInPandas (cell+PIP) -> sink. The
fact side never shuffles; only the small CPO dimension aggregations do, on
the broadcast side — at 10^12 docs the job is embarrassingly parallel and
skew-free.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.udfs import extract_postcodes
from ..regions import PreparedRegions
from .forward_geocode import forward_geocode
from .reverse_geocode import reverse_geocode, reverse_geocode_multi


def extract_postcode_mentions(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """pages -> one row per (url, postcode mention). Codegen-only."""
    return (
        pages
        .withColumn("postcode", F.explode(extract_postcodes(text_col)))
    )


def geocode_documents(
    pages: DataFrame,
    cpo: DataFrame,
    llsoa_prep: PreparedRegions | None = None,
    gsp_prep: PreparedRegions | None = None,
) -> DataFrame:
    """Full pipeline. Returns one row per (url, extracted postcode) with
    latitude/longitude/match_status [+ llsoa [+ gsp, gsp_group]] and the
    point's cell_id (tile assignment) when a region set is given.
    Mentions are forward-geocoded directly through the broadcast CPO
    dimensions: one pass over the pages, no distinct-key pre-pass.
    """
    # postcode first: keeps the public column order that
    # test_geocode_documents_schema_unchanged pins
    mentions = extract_postcode_mentions(pages).select(
        "postcode", "url", "warc_ts", "lang")
    geo = forward_geocode(mentions, cpo)

    def add_tile(df):
        # coarse tile assignment (raster partition key for sinks/rollups);
        # cell_id is the fine-resolution index cell
        from ..functions.udfs import cell_udf

        return df.withColumn(
            "tile_id",
            F.when(F.col("latitude").isNotNull(),
                   cell_udf(8)(F.col("latitude"), F.col("longitude"))))

    if llsoa_prep is not None and gsp_prep is not None:
        # both lookups in ONE Arrow pass (reverse_geocode_multi): the
        # points cross the JVM/Python boundary once instead of twice —
        # at 10^12 docs that's a full pipeline stage saved. Output columns
        # reordered to the chained-call schema for parity.
        base_cols = geo.columns
        geo = reverse_geocode_multi(
            geo, [(llsoa_prep, "llsoa"), (gsp_prep, "gsp")], keep_cell=True)
        geo = add_tile(geo).select(
            *base_cols, "llsoa", "cell_id", "tile_id", "gsp")
    else:
        if llsoa_prep is not None:
            geo = reverse_geocode(geo, llsoa_prep, out_col="llsoa",
                                  keep_cell=True)
            geo = add_tile(geo)
        if gsp_prep is not None:
            geo = reverse_geocode(geo, gsp_prep, out_col="gsp")
    if gsp_prep is not None and gsp_prep.attrs is not None:
        attrs = geo.sparkSession.createDataFrame(
            gsp_prep.attrs.rename(columns={"GSPs": "gsp",
                                           "GSPGroup": "gsp_group"})
        ).select("region_id", "gsp_group").withColumnRenamed("region_id", "gsp")
        geo = geo.join(F.broadcast(attrs), "gsp", "left")
    return geo
