"""Region (polygon) dataset preparation — the engine's spatial index build.

The reference lazily loads GeoDataFrames of boundaries and relies on
GeoPandas' R-tree inside ``sjoin`` (/root/reference/geocode/utilities.py:263-267,
boundary loaders ons_nrs.py:167-257, neso.py:97-216, eurostat.py:51-115).

Here, preparation is a one-time driver-side job (the analogue of the
reference's pickle-cache prep, cache_manager.py:22-119) that turns polygons
into two artifacts, shipped to executors together as one Spark broadcast
(reverse_geocode's cover index, held on the prep):

* ``geoms``: {region_id: (xs, ys, ring_offsets, bbox)} numpy dict for exact
  ray-cast / distance kernels;
* ``cover``: a covering-cell table (cell -> region_id, region_seq, interior)
  used as the build side of the candidate equi-join — our distributed
  replacement for the R-tree. ``interior`` cells are wholly inside their
  region, so points hashing there skip the exact point-in-polygon test
  entirely (raster/vector tiling shortcut, SURVEY.md §4).

Prepared artifacts round-trip to parquet so a 1000-executor run prepares
once and every job after that is read + broadcast.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd

from .cells import covering_cells, pick_resolution
from .geometry import polygon_bbox

COVER_MAX_CELLS_PER_POLY = 4096


@dataclass
class PreparedRegions:
    """Prepared polygon dataset: geometry dict + covering-cell map."""

    name: str
    res: int
    crs: str  # "EPSG:4326" or "EPSG:27700" — unit of distance computations
    # region_id -> (xs, ys, ring_offsets, (xmin, ymin, xmax, ymax))
    geoms: dict = field(default_factory=dict)
    # pandas DataFrame: cell int64, region_id str, region_seq int64, interior bool
    cover: pd.DataFrame = None
    # region_id -> ordinal (stable input order, keep-first parity; SURVEY A3)
    seq: dict = field(default_factory=dict)
    # optional extra attribute columns per region (e.g. GSPs / GSPGroup)
    attrs: pd.DataFrame = None
    # (SparkContext, Broadcast of the cover index): reverse_geocode's
    # broadcast of this set, rebuilt only for another context
    _bcast: tuple = field(default=None, init=False, repr=False,
                          compare=False)

    @property
    def n_regions(self) -> int:
        return len(self.geoms)


def prepare_regions(
    records: list[dict],
    name: str,
    crs: str = "EPSG:4326",
    res: int | None = None,
    attrs_cols: list[str] | None = None,
) -> PreparedRegions:
    """Build a PreparedRegions from polygon records.

    Each record: ``{"region_id": str, "rings": [[(x, y), ...], ...], ...attrs}``
    where x = lon / easting, y = lat / northing in ``crs``. Multipolygons are
    multiple outer rings; holes are additional rings (even-odd semantics).
    Record order is significant: it defines ``region_seq`` for keep-first
    dedup parity with GeoPandas (utilities.py:268-269). Each ``region_id``
    must appear once: ``ValueError`` names the first repeated one.
    """
    seen = set()
    for rec in records:
        if rec["region_id"] in seen:
            raise ValueError(f"prepare_regions({name!r}): duplicate "
                             f"region_id {rec['region_id']!r}")
        seen.add(rec["region_id"])
    if crs == "EPSG:27700":
        # geometry is normalized to WGS84 at prep time (one-time driver cost)
        # so the cell index and exact kernels run in a single space; the
        # reference instead reprojects the *points* to regions.crs
        # (utilities.py:263-265) — same assignments, opposite direction.
        from .crs import bng_to_latlon

        def _ring_to_wgs(ring):
            es = np.asarray([p[0] for p in ring], dtype=np.float64)
            ns = np.asarray([p[1] for p in ring], dtype=np.float64)
            lats, lons = bng_to_latlon(es, ns)
            return list(zip(lons, lats))

        records = [{**rec, "rings": [_ring_to_wgs(r) for r in rec["rings"]]}
                   for rec in records]

    if res is None:
        # choose the resolution where the median polygon spans ~8 cells
        ws, hs = [], []
        for rec in records:
            allx = np.concatenate([np.asarray([p[0] for p in ring]) for ring in rec["rings"]])
            ally = np.concatenate([np.asarray([p[1] for p in ring]) for ring in rec["rings"]])
            ws.append(allx.max() - allx.min())
            hs.append(ally.max() - ally.min())
        w, h = float(np.median(ws)), float(np.median(hs))
        res = pick_resolution(max(w, 1e-9), max(h, 1e-9))

    geoms = {}
    seqs = {}
    cover_rows = []
    attr_rows = []
    for seq, rec in enumerate(records):
        rid = rec["region_id"]
        xs = np.concatenate([np.asarray([p[0] for p in ring], dtype=np.float64)
                             for ring in rec["rings"]])
        ys = np.concatenate([np.asarray([p[1] for p in ring], dtype=np.float64)
                             for ring in rec["rings"]])
        offs = np.cumsum([0] + [len(r) for r in rec["rings"]]).astype(np.int64)
        bbox = polygon_bbox(xs, ys)
        geoms[rid] = (xs, ys, offs, bbox)
        seqs[rid] = seq
        use_res = res
        cells, interior = covering_cells(xs, ys, offs, use_res)
        while len(cells) > COVER_MAX_CELLS_PER_POLY and use_res > 0:
            use_res -= 1
            cells, interior = covering_cells(xs, ys, offs, use_res)
        if use_res != res:
            raise ValueError(
                f"region {rid} needs res {use_res} < dataset res {res}; "
                "lower the dataset resolution"
            )
        cover_rows.append(pd.DataFrame({
            "cell": cells.astype(np.int64),
            "region_id": rid,
            "region_seq": np.int64(seq),
            "interior": interior,
        }))
        if attrs_cols:
            attr_rows.append({"region_id": rid, **{c: rec.get(c) for c in attrs_cols}})

    cover = (pd.concat(cover_rows, ignore_index=True) if cover_rows
             else pd.DataFrame(columns=["cell", "region_id", "region_seq", "interior"]))
    attrs = pd.DataFrame(attr_rows) if attr_rows else None
    return PreparedRegions(name=name, res=res, crs=crs, geoms=geoms,
                           cover=cover, seq=seqs, attrs=attrs)


# --- parquet round-trip (prep-once semantics, mirrors cache_manager versioning)

def save_prepared(prep: PreparedRegions, base_dir: str | Path) -> None:
    base = Path(base_dir) / prep.name
    base.mkdir(parents=True, exist_ok=True)
    geom_df = pd.DataFrame({
        "region_id": list(prep.geoms.keys()),
        "region_seq": [prep.seq[r] for r in prep.geoms],
        "xs": [g[0] for g in prep.geoms.values()],
        "ys": [g[1] for g in prep.geoms.values()],
        "ring_offsets": [g[2] for g in prep.geoms.values()],
        "xmin": [g[3][0] for g in prep.geoms.values()],
        "ymin": [g[3][1] for g in prep.geoms.values()],
        "xmax": [g[3][2] for g in prep.geoms.values()],
        "ymax": [g[3][3] for g in prep.geoms.values()],
    })
    geom_df.to_parquet(base / "geoms.parquet", index=False)
    prep.cover.to_parquet(base / "cover.parquet", index=False)
    if prep.attrs is not None:
        prep.attrs.to_parquet(base / "attrs.parquet", index=False)
    (base / "meta.json").write_text(json.dumps({
        "name": prep.name, "res": prep.res, "crs": prep.crs,
    }))


def load_prepared(name: str, base_dir: str | Path) -> PreparedRegions:
    base = Path(base_dir) / name
    meta = json.loads((base / "meta.json").read_text())
    geom_df = pd.read_parquet(base / "geoms.parquet")
    geoms = {}
    seq = {}
    for row in geom_df.itertuples(index=False):
        geoms[row.region_id] = (
            np.asarray(row.xs, dtype=np.float64),
            np.asarray(row.ys, dtype=np.float64),
            np.asarray(row.ring_offsets, dtype=np.int64),
            (row.xmin, row.ymin, row.xmax, row.ymax),
        )
        seq[row.region_id] = int(row.region_seq)
    cover = pd.read_parquet(base / "cover.parquet")
    attrs_path = base / "attrs.parquet"
    attrs = pd.read_parquet(attrs_path) if attrs_path.exists() else None
    return PreparedRegions(name=meta["name"], res=meta["res"], crs=meta["crs"],
                           geoms=geoms, cover=cover, seq=seq, attrs=attrs)
