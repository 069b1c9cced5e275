"""Flagship document pipeline: Common-Crawl-style pages -> geocoded docs.

The north-star query (BASELINE.json): over an Iceberg/parquet table
``(url, warc_ts, html, text, lang)``, extract UK postcodes from ``text``
(Catalyst regexp, F13), forward-geocode them against the CPO dimension
(broadcast join), reverse-geocode the resulting points into LLSOA /
constituency / GSP regions (cell-index + ray-cast), and emit one row per
(url, postcode) with cell/tile assignments. ``text`` passes through
byte-identical per url (invariant).

Plan shape: scan -> codegen'd extract+explode -> two BroadcastHashJoins
(exact and prefix CPO dimensions) -> one MapInArrow (cell+PIP) -> codegen'd
tile_id -> sink. The fact side never shuffles. The CPO dimensions come
in prepared (``forward_geocode.load_dims`` files, or ``prepare_dims`` of a
CPO frame), so the broadcast side is two small scans; at 10^12 docs the
job is embarrassingly parallel and skew-free.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.udfs import cell_parent, extract_postcodes
from ..regions import PreparedRegions
from .forward_geocode import forward_geocode
from .reverse_geocode import reverse_geocode_multi


def extract_postcode_mentions(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """pages -> one row per (url, postcode mention). Codegen-only."""
    return (
        pages
        .withColumn("postcode", F.explode(extract_postcodes(text_col)))
    )


def geocode_documents(
    pages: DataFrame,
    dims: tuple[DataFrame, DataFrame],
    llsoa_prep: PreparedRegions | None = None,
    gsp_prep: PreparedRegions | None = None,
) -> DataFrame:
    """Full pipeline. Returns one row per (url, extracted postcode) with
    latitude/longitude/match_status, plus llsoa/cell_id/tile_id when
    ``llsoa_prep`` is given and gsp/gsp_group when ``gsp_prep`` is.
    Mentions are forward-geocoded directly through the broadcast CPO
    dimensions ``dims`` (``forward_geocode.load_dims`` or
    ``prepare_dims``; one pass over the pages, no distinct-key pre-pass).
    Every given region set is assigned in one reverse_geocode_multi pass,
    so the points cross the JVM/Python boundary once. ``tile_id`` is the resolution-8 ancestor of
    ``cell_id``, derived in Catalyst (NULL where ``cell_id`` is), so
    ``llsoa_prep`` must have resolution >= 8 (ValueError otherwise).
    """
    # postcode first: keeps the public column order that
    # test_geocode_documents_schema_unchanged pins
    mentions = extract_postcode_mentions(pages).select(
        "postcode", "url", "warc_ts", "lang")
    geo = forward_geocode(mentions, None, dims=dims)

    assignments = [(p, c) for p, c in ((llsoa_prep, "llsoa"),
                                       (gsp_prep, "gsp")) if p is not None]
    if assignments:
        cols = geo.columns
        geo = reverse_geocode_multi(geo, assignments,
                                    keep_cell=llsoa_prep is not None)
        if llsoa_prep is not None:
            # coarse tile assignment (raster partition key for sinks/
            # rollups); cell_id is the fine-resolution index cell
            geo = geo.withColumn("tile_id",
                                 cell_parent("cell_id", llsoa_prep.res, 8))
            cols = cols + ["llsoa", "cell_id", "tile_id"]
        if gsp_prep is not None:
            cols = cols + ["gsp"]
        # the chained-call column order is the public schema
        geo = geo.select(*cols)
    if gsp_prep is not None and gsp_prep.attrs is not None:
        attrs = geo.sparkSession.createDataFrame(
            gsp_prep.attrs.rename(columns={"GSPs": "gsp",
                                           "GSPGroup": "gsp_group"})
        ).select("region_id", "gsp_group").withColumnRenamed("region_id", "gsp")
        geo = geo.join(F.broadcast(attrs), "gsp", "left")
    return geo
