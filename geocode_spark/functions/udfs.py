"""Arrow-vectorized UDFs — the engine's entire Python surface.

Per BASELINE.json input_hint: "no per-row Python". Each UDF is a thin Arrow
batch wrapper over the numpy kernels in crs.py / cells.py, and every
worker-side operator map runs through :func:`arrow_map`; everything else
in the engine is Catalyst expressions (whole-stage codegen).

Replaces the reference's pyproj calls (utilities.py:335-391) and the
GeoPandas-internal spatial index (utilities.py:267).
"""

from __future__ import annotations

import sys
import zipimport

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..cells import _RES_SHIFT, cell_of
from ..crs import bng_to_latlon, latlon_to_bng

_LATLON = StructType([StructField("lat", DoubleType()),
                      StructField("lon", DoubleType())])
_EN = StructType([StructField("easting", DoubleType()),
                  StructField("northing", DoubleType())])


def settle_worker_imports() -> None:
    """Drop every ``zipimporter`` from ``sys.path_importer_cache``.

    Spark's Python worker calls ``importlib.invalidate_caches()`` at the
    start of every task, and on CPython 3.11 each cached zipimporter then
    re-reads its whole archive directory. A reused worker holds one per
    package directory imported from ``pyspark.zip``, the Spark core jar and
    ``py4j``: tens of thousands of central-directory entries per task. With
    the entries gone, the next task's invalidation has no zip importer to
    refresh, and a later import rebuilds the importer from
    ``zipimport._zip_directory_cache`` without reading the archive again.

    Skipping the re-read is safe because an archive on a worker's
    ``sys.path`` does not change while that worker lives: Spark registers
    each added file name once and refuses a second add of the same name
    from a different path. Every function this package ships to Python
    workers calls this first.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


def arrow_map(df, body, new_fields, keep=None):
    """Run ``body`` over every non-empty Arrow batch of ``df`` and append
    its new columns to the kept input columns.

    ``body(rb)`` returns ``(take, arrays)``, or ``None`` to emit nothing.
    ``arrays`` holds one column per ``new_fields`` entry: an Arrow array, or
    a sequence converted to the field's Arrow type. ``take`` is ``None``
    for one output row per input row; otherwise output row ``i`` copies
    input row ``take[i]`` (an explode, or a filter when ``arrays`` is
    empty). The ``keep`` input columns (all by default), in input order,
    pass through as the batch's own Arrow arrays, so no value crosses a
    pandas dtype. Output schema: the kept fields, then ``new_fields``.
    """
    fields = df.schema.fields
    idx = [i for i, f in enumerate(fields) if keep is None or f.name in keep]
    schema = StructType([fields[i] for i in idx] + list(new_fields))
    types = [to_arrow_type(f.dataType) for f in new_fields]

    def run(batches):
        settle_worker_imports()
        for rb in batches:
            got = body(rb) if rb.num_rows else None
            if got is None:
                continue
            take, arrays = got
            kept = rb.select(idx)
            if take is not None:
                kept = kept.take(take)
            yield pa.RecordBatch.from_arrays(
                kept.columns + [a if isinstance(a, pa.Array) else pa.array(a, t)
                                for a, t in zip(arrays, types)],
                names=schema.names)

    return df.mapInArrow(run, schema)


@F.pandas_udf(_LATLON)
def bng_to_latlon_udf(eastings: pd.Series, northings: pd.Series) -> pd.DataFrame:
    """EPSG:27700 -> WGS84 (utilities.py:365-391 bng2latlon), Arrow batch."""
    settle_worker_imports()
    lat, lon = bng_to_latlon(eastings.to_numpy(np.float64),
                             northings.to_numpy(np.float64))
    return pd.DataFrame({"lat": lat, "lon": lon})


@F.pandas_udf(_EN)
def latlon_to_bng_udf(lats: pd.Series, lons: pd.Series) -> pd.DataFrame:
    """WGS84 -> EPSG:27700 (utilities.py:335-362 latlon2bng), Arrow batch."""
    settle_worker_imports()
    e, n = latlon_to_bng(lats.to_numpy(np.float64), lons.to_numpy(np.float64))
    return pd.DataFrame({"easting": e, "northing": n})


def cell_udf(res: int):
    """cell_of(lat, lon) at a fixed resolution (SURVEY F10)."""

    @F.pandas_udf(LongType())
    def _cell(lat: pd.Series, lon: pd.Series) -> pd.Series:
        settle_worker_imports()
        return pd.Series(cell_of(lat.to_numpy(np.float64),
                                 lon.to_numpy(np.float64), res))

    return _cell


def cell_parent(cell_col: str, res: int, parent_res: int):
    """Catalyst expression: the resolution-``parent_res`` ancestor of the
    resolution-``res`` cell ids in ``cell_col`` (NULL stays NULL). Equal to
    ``cell_of(lat, lon, parent_res)`` for every point of the cell: the grid
    steps are powers of two, so dropping the low morton bits is exact,
    clipped edges included."""
    if not 0 <= parent_res <= res:
        raise ValueError(f"parent resolution {parent_res} must be in "
                         f"[0, {res}] (the cell resolution)")
    morton = F.col(cell_col).bitwiseAND(F.lit((1 << _RES_SHIFT) - 1))
    return F.shiftright(morton, 2 * (res - parent_res)).bitwiseOR(
        F.lit(parent_res << _RES_SHIFT))


def cell_ij_udf(res: int):
    """(lat, lon) -> struct(i, j) grid coordinates at ``res`` — the
    SQL-checkable decomposition of the Morton cell id."""
    from ..cells import _ij_of

    schema = StructType([StructField("i", LongType()),
                         StructField("j", LongType())])

    @F.pandas_udf(schema)
    def _ij(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
        settle_worker_imports()
        i, j = _ij_of(lat.to_numpy(np.float64), lon.to_numpy(np.float64), res)
        return pd.DataFrame({"i": i, "j": j})

    return _ij


# UK postcode grammar (public GOV.UK spec): outward = area letters + district,
# inward = digit + two letters. Used for extraction from free text (SURVEY F13).
UK_POSTCODE_REGEX = r"\b([A-Z]{1,2}[0-9][A-Z0-9]?)\s?([0-9][A-Z]{2})\b"


def extract_postcodes(text_col, regex: str = UK_POSTCODE_REGEX):
    """array<string> of normalized (despaced, upper) postcodes found in text.

    Pure Catalyst (regexp_extract_all + transform) — JVM-side, codegen'd;
    the extracted ``text`` itself is never modified (byte-identical per url,
    BASELINE.json invariant).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    matches = F.regexp_extract_all(F.upper(c), F.lit(regex), F.lit(0))
    return F.transform(matches, lambda x: F.replace(x, F.lit(" "), F.lit("")))
