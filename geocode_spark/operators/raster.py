"""Raster <-> vector tiling operators (north-rule: "raster<->vector
tiling", SURVEY.md §4 Raptor-style combine; cf. the reference's
raster-free GeoPandas ``sjoin`` at /root/reference/geocode/utilities.py:263-267,
which this engine replaces with an explicit cell raster).

Three first-class operators over the engine's Z-order cell grid
(:mod:`geocode_spark.cells`):

* :func:`rasterize_regions` — VECTOR -> RASTER. Turns a polygon table
  (region_id, xs, ys, ring_offsets) into a cell raster
  (region_id, cell_id, cell_i, cell_j, interior). Distributed: each
  executor rasterizes the polygons of its own input partition inside one
  :func:`~geocode_spark.functions.udfs.arrow_map` pass that explodes each
  region row into its cells — no shuffle, no driver collect, so
  a 10^6-polygon national boundary table rasterizes with the same plan
  shape as the 64-polygon fixture. ``interior`` marks cells wholly inside
  their region (no boundary edge crosses them): downstream joins on those
  cells skip exact point-in-polygon entirely.

* :func:`raster_to_spans` — RASTER -> VECTOR. Dissolves a cell raster
  back into maximal horizontal runs (region_id, cell_i, j_lo, j_hi) —
  the compact vector form of a raster region (a run-length encoding of
  each scanline). Pure Catalyst gaps-and-islands over window functions:
  one shuffle keyed (region, scanline), whole-stage codegen throughout,
  no Python anywhere.

* :func:`zonal_stats` — the raster/vector COMBINE (Raptor join,
  VLDB'19): join a value raster (cell_id, value) against a zone raster
  and aggregate per region. One cell-keyed equi-join (map-side partial
  aggregation keeps the shuffle narrow); when the zone raster is
  broadcast-sized AQE picks a broadcast join automatically.

At 100 TB the raster is the *small* artifact (bounded by land area x
resolution, not by data volume), so these operators are the cheap side
of every plan they appear in; the value raster (satellite tiles, density
grids) is the big side and is only ever touched by one cell-keyed join.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField

from ..cells import cell_to_ij, covering_cells
from ..functions.udfs import arrow_map


def _row_views(col: pa.ListArray, dtype) -> list:
    """Per-row numpy views of a list column, cut at its offsets (absolute
    into ``col.values``; ``flatten()`` drops the values behind null lists,
    which would misalign the cuts)."""
    vals = col.values.cast(dtype).to_numpy(zero_copy_only=False)
    offs = col.offsets.to_numpy()
    return [vals[a:b] for a, b in zip(offs[:-1], offs[1:])]


def rasterize_regions(regions: DataFrame, res: int,
                      region_col: str = "region_id",
                      xs_col: str = "xs", ys_col: str = "ys",
                      offsets_col: str = "ring_offsets") -> DataFrame:
    """Vector -> raster: one output row per (region, covering cell).

    ``regions`` carries one polygon per row as flattened ring coordinate
    arrays (the ``geoms.parquet`` layout :func:`geocode_spark.regions.
    save_prepared` writes). Covering rule (same predicate the prep-time
    cover map uses, ``cells.covering_cells``): a cell is kept iff a
    boundary edge intersects it OR its center is inside; ``interior``
    iff the center is inside and no edge crosses.

    Scale: the per-polygon kernel is vectorized numpy over the polygon's
    bbox cells; polygons stream through Arrow batches partition-local.
    Skewed inputs (one continent-sized polygon among parcels) are the
    caller's repartition decision — rows are independent.
    """
    if not 0 <= res <= 26:
        raise ValueError(f"resolution must be in [0, 26], got {res}")

    def body(rb):
        # one covering per region row; the region id column repeats once
        # per cell through the explode's take
        cov = [covering_cells(xs, ys, offs, res) for xs, ys, offs in zip(
            _row_views(rb.column(xs_col), pa.float64()),
            _row_views(rb.column(ys_col), pa.float64()),
            _row_views(rb.column(offsets_col), pa.int64()))]
        cells = np.concatenate([c for c, _ in cov]).astype(np.int64)
        _, ci, cj = cell_to_ij(cells)
        return np.repeat(np.arange(len(cov)), [len(c) for c, _ in cov]), [
            cells, ci.astype(np.int64), cj.astype(np.int64),
            np.concatenate([i for _, i in cov])]

    return arrow_map(
        regions.select(region_col, xs_col, ys_col, offsets_col), body,
        [StructField(c, LongType()) for c in ("cell_id", "cell_i", "cell_j")]
        + [StructField("interior", BooleanType())], keep=[region_col])


def raster_to_spans(raster: DataFrame,
                    region_col: str = "region_id") -> DataFrame:
    """Raster -> vector: maximal horizontal runs per (region, scanline).

    Output: (region_col, cell_i, j_lo, j_hi, n_cells) with
    ``j_hi - j_lo + 1 == n_cells`` (each row is one gap-free run of
    cell_j values). Input rows must be distinct per (region, cell) —
    :func:`rasterize_regions` output is.

    Plan: gaps-and-islands — ``cell_j - row_number()`` is constant
    within a run — entirely in window + hash aggregate (no UDF), one
    shuffle keyed (region, cell_i).
    """
    w = Window.partitionBy(region_col, "cell_i").orderBy("cell_j")
    return (raster
            .select(region_col, "cell_i", "cell_j",
                    (F.col("cell_j") - F.row_number().over(w)).alias("_isl"))
            .groupBy(region_col, "cell_i", "_isl")
            .agg(F.min("cell_j").alias("j_lo"),
                 F.max("cell_j").alias("j_hi"),
                 F.count(F.lit(1)).alias("n_cells"))
            .select(region_col, "cell_i", "j_lo", "j_hi", "n_cells"))


def spans_to_raster(spans: DataFrame,
                    region_col: str = "region_id") -> DataFrame:
    """Inverse of :func:`raster_to_spans` (minus the interior flag):
    explode each run back into its cells — ``sequence`` + ``explode``,
    no Python. Useful to re-materialize a raster from its compact
    vector form before a cell-keyed join."""
    return (spans
            .select(region_col, "cell_i",
                    F.explode(F.sequence("j_lo", "j_hi")).alias("cell_j")))


def zonal_stats(raster: DataFrame, values: DataFrame,
                value_col: str = "value", cell_col: str = "cell_id",
                region_col: str = "region_id") -> DataFrame:
    """Raster/vector combine: per-region aggregate of a value raster.

    ``raster`` is a zone raster (rasterize_regions output); ``values``
    maps cell_id -> value (a density grid, a tile statistic). Output:
    (region_col, n_cells, val_sum, n_interior). One equi-join on the
    cell key + one partial-aggregated groupBy — the value raster (the
    100 TB side) is touched exactly once and never shuffled on anything
    but the cell key.
    """
    joined = (raster.select(region_col, cell_col, "interior")
              .join(values.select(cell_col, value_col), cell_col))
    return (joined.groupBy(region_col)
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum(value_col).alias("val_sum"),
                 F.sum(F.col("interior").cast("long")).alias("n_interior")))
