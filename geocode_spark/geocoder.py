"""GeocoderSpark — 1:1 API facade over the reference's public surface.

A user of the reference's ``Geocoder`` class (/root/reference/geocode/
geocode.py:87-366) can switch to this class and run every call they run
today, except inputs/outputs are DataFrames (a ``row_id``-ordered collect
reproduces the reference's positional-list contract; thin list helpers are
provided for drop-in parity).

Method map (reference -> here):
  geocode_postcode (geocode.py:236-245)          -> geocode_postcode
  geocode_llsoa (geocode.py:139-148)             -> geocode_llsoa
  geocode_constituency (geocode.py:197-206)      -> geocode_constituency
  geocode_local_authority (geocode.py:208-217)   -> geocode_local_authority
  geocode(..., entity=...) (geocode.py:247-281)  -> geocode dispatcher
  reverse_geocode_llsoa (geocode.py:150-167)     -> reverse_geocode_llsoa
  reverse_geocode_gsp (geocode.py:219-234)       -> reverse_geocode_gsp
  reverse_geocode_nuts (geocode.py:169-195)      -> reverse_geocode_nuts
  reverse_geocode (geocode.py:283-308)           -> reverse_geocode dispatcher
  bng2latlon / latlon2bng (utilities.py:335-391) -> same names (DataFrame)
  force_setup (geocode.py:95-107)                -> force_setup
  get_dno_regions (geocode.py:108-115)           -> get_dno_regions
  get_gsp_regions (geocode.py:124-130)           -> get_gsp_regions
  get_llsoa_boundaries (geocode.py:131-137)      -> get_llsoa_boundaries
  reverse_geocode_gsp_20181031 (neso.py:303-343) -> reverse_geocode_gsp_20181031
  cache_manager.clear (cache_manager.py:86-119)  -> clear_prepared

GMaps paths (geocode.py status codes 3/4; gmaps.py) are an external paid
API and are intentionally not distributed: statuses 3/4 are never produced,
exactly like the reference without an API key (gmaps.py:145-148).
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .operators.centroid_lookup import centroid_lookup, datazone_relabel
from .operators.forward_geocode import forward_geocode, prepare_cpo
from .operators.reverse_geocode import reverse_geocode
from .regions import load_prepared
from .sources.fixtures import FIXTURE_DIR

ENGINE_VERSION = "1"

# geocode.py:79-85 — exact reference status-code table
STATUS_CODES = {
    0: "Failed",
    1: "Full match with Code Point Open",
    2: "Partial match with Code Point Open",
    3: "Full match with GMaps",
    4: "Partial match with GMaps",
}


def status_string(col):
    """F11: int status -> human string via a literal map (no join needed)."""
    m = F.create_map(*[F.lit(x) for kv in STATUS_CODES.items() for x in kv])
    c = F.col(col) if isinstance(col, str) else col
    return m.getItem(c)


class GeocoderSpark:
    def __init__(self, spark: SparkSession,
                 data_dir: str | Path = FIXTURE_DIR,
                 prepared_dir: str | None = None):
        self.spark = spark
        self.data_dir = Path(data_dir)
        self.prepared_dir = Path(prepared_dir or self.data_dir / "prepared")
        self._cpo = None
        self._preps: dict[str, object] = {}

    # --- context manager parity (geocode.py:87-91): the reference's
    # __exit__ flushes the gmaps cache; gmaps here is the deliberate
    # no-API-key stub (gmaps.py:104-168 semantics, SURVEY §2.10) with no
    # cache to flush, so exit drops the prepared handles, and with them
    # their broadcasts: each prep holds its own, so once no plan uses it
    # Spark's ContextCleaner frees it. ``with GeocoderSpark(spark) as g:``
    # is drop-in.

    def __enter__(self) -> "GeocoderSpark":
        return self

    def __exit__(self, exc_type, exc_value, traceback) -> None:
        self._preps.clear()
        self._cpo = None

    # --- lazy dimension loads (mirrors the reference's lazy _load pattern,
    # cpo.py:41-53, ons_nrs.py:74-78) ---------------------------------------

    def _cpo_dim(self):
        if self._cpo is None:
            raw = self.spark.read.parquet(str(self.data_dir / "cpo_raw.parquet"))
            self._cpo = prepare_cpo(raw)
        return self._cpo

    def _prep(self, name: str):
        if name not in self._preps:
            self._preps[name] = load_prepared(name, self.prepared_dir)
        return self._preps[name]

    def _table(self, fname: str) -> DataFrame:
        return self.spark.read.parquet(str(self.data_dir / fname))

    # --- forward geocode ----------------------------------------------------

    def geocode_postcode(self, postcodes: DataFrame,
                         postcode_col: str = "postcode",
                         method: str = "cpo") -> DataFrame:
        """``method`` parity with geocode.py:236-245: 'cpo' is the only
        distributed backend; 'gmaps' routes to the stubbed no-API-key path
        (statuses 3/4 never produced, gmaps.py:145-148)."""
        if method not in ("cpo", "gmaps"):
            raise ValueError(f"The method '{method}' is not supported")
        if method == "gmaps":
            return self.geocode_address(postcodes)
        return forward_geocode(postcodes, self._cpo_dim(), postcode_col)

    def geocode_llsoa(self, llsoas: DataFrame, code_col: str = "llsoa") -> DataFrame:
        return centroid_lookup(llsoas, self._table("llsoa_centroids.parquet"),
                               code_col, "code")

    def geocode_constituency(self, names: DataFrame,
                             name_col: str = "constituency") -> DataFrame:
        return centroid_lookup(names,
                               self._table("constituency_centroids.parquet"),
                               name_col, "name", normalize=True)

    def geocode_local_authority(self, names: DataFrame,
                                name_col: str = "lad") -> DataFrame:
        return centroid_lookup(names, self._table("lad_centroids.parquet"),
                               name_col, "name", normalize=True)

    def geocode(self, keys: DataFrame, entity: str, key_col: str | None = None,
                **kw) -> DataFrame:
        """Dispatcher parity with geocode.py:247-281 — extra kwargs forward
        to the entity method exactly like the reference (e.g.
        ``geocode(df, 'postcode', method='cpo')``)."""
        dispatch = {
            "postcode": (self.geocode_postcode, "postcode"),
            "llsoa": (self.geocode_llsoa, "llsoa"),
            "constituency": (self.geocode_constituency, "constituency"),
            "lad": (self.geocode_local_authority, "lad"),
        }
        if entity not in dispatch:
            raise ValueError(
                f"The entity '{entity}' is not supported"  # geocode.py:269 analogue
            )
        fn, default_col = dispatch[entity]
        return fn(keys, key_col or default_col, **kw)

    # --- reverse geocode ----------------------------------------------------

    def _prep_versioned(self, label: str, version: str | None,
                        default_version: str | None = None):
        """Versioned prepared set (gsp_20260209 etc.). Falling back to the
        unversioned artifact is allowed ONLY for the dataset's DEFAULT
        vintage (back-compat with pre-vintage prepared dirs, whose
        unversioned geometry IS the default) — serving the default geometry
        for an explicitly different vintage would be a wrong answer, not a
        fallback."""
        if version is None:
            return self._prep(label)
        try:
            return self._prep(f"{label}_{version}")
        except FileNotFoundError:
            if version == default_version:
                return self._prep(label)
            raise FileNotFoundError(
                f"prepared set '{label}_{version}' not found under "
                f"{self.prepared_dir} — run prepare_regions for that "
                "vintage (no silent fallback to the default geometry)")

    def reverse_geocode_llsoa(self, latlons: DataFrame, dz: bool = True,
                              year: str = "2021",
                              out_col: str = "llsoa",
                              max_distance: float | None = None,
                              distance_unit: str | None = None) -> DataFrame:
        """Default vintage 2021 (geocode.py:301); default dz=True matches
        the reference facade (geocode.py:150 ``dz=True`` — Scottish points
        are relabelled to datazones unless opted out).

        ``max_distance`` enables the bounded nearest-region fallback for
        points outside every boundary (sjoin_nearest parity,
        utilities.py:270-284). Unit = the prepared set's source CRS units
        (metres for BNG-sourced data); override with ``distance_unit``."""
        out = reverse_geocode(latlons,
                              self._prep_versioned("llsoa", year, "2021"),
                              out_col=out_col, max_distance=max_distance,
                              distance_unit=distance_unit)
        if dz:
            out = datazone_relabel(out,
                                   self._table("datazone_lookup.parquet"),
                                   region_col=out_col)
        return out

    def reverse_geocode_dno(self, latlons: DataFrame,
                            out_col: str = "dno",
                            max_distance: float | None = None,
                            distance_unit: str | None = None) -> DataFrame:
        """DNO licence-area assignment (neso.py:218-267 boundaries; bbox
        prefilter P6 happens inside the PIP kernel)."""
        prep = self._prep("dno")
        out = reverse_geocode(latlons, prep, out_col=out_col,
                              max_distance=max_distance,
                              distance_unit=distance_unit)
        if prep.attrs is not None:
            attrs = self.spark.createDataFrame(prep.attrs).select(
                F.col("region_id").alias(out_col),
                F.col("Name").alias("dno_name"))
            out = out.join(F.broadcast(attrs), out_col, "left")
        return out

    def reverse_geocode_gsp(self, latlons: DataFrame,
                            version: str = "20260209",
                            max_distance: float | None = None,
                            distance_unit: str | None = None) -> DataFrame:
        """(gsp, gsp_group) pair output parity (utilities.py:286-289);
        default version 20260209 (geocode.py:298). version="20181031"
        routes to the EPSG:27700-prepared vintage + many:many lookup
        (reverse_geocode_gsp_20181031, neso.py:303-343)."""
        if version == "20181031":
            return self.reverse_geocode_gsp_20181031(
                latlons, max_distance=max_distance,
                distance_unit=distance_unit)
        prep = self._prep_versioned("gsp", version, "20260209")
        out = reverse_geocode(latlons, prep, out_col="gsp",
                              max_distance=max_distance,
                              distance_unit=distance_unit)
        if prep.attrs is not None:
            attrs = self.spark.createDataFrame(prep.attrs).select(
                F.col("region_id").alias("gsp"),
                F.col("GSPGroup").alias("gsp_group"))
            out = out.join(F.broadcast(attrs), "gsp", "left")
        return out

    def reverse_geocode_gsp_20181031(self, latlons: DataFrame,
                                     max_distance: float | None = None,
                                     distance_unit: str | None = None
                                     ) -> DataFrame:
        """20181031 GSP vintage (neso.py:303-343): the reference converts
        the points lat/lon -> BNG and sjoins in EPSG:27700 (neso.py:333);
        here the prep normalized the BNG boundaries to WGS84 once
        (regions.py prep, crs="EPSG:27700") — same assignments, opposite
        direction. The many:many Region<->GSP<->GNode expansion
        (results_more, neso.py:336-343) is a broadcast left join: one output
        row per (point, gsp, gnode)."""
        prep = self._prep("gsp_20181031")
        out = reverse_geocode(latlons, prep, out_col="gsp",
                              max_distance=max_distance,
                              distance_unit=distance_unit)
        lookup = self._table("gsp_lookup_20181031.parquet").select(
            F.col("region_id").alias("gsp"), "gsp_name", "gnode")
        return out.join(F.broadcast(lookup), "gsp", "left")

    # allowed NUTS regulation years (eurostat.py:117-121 / geocode.py:169-195)
    NUTS_YEARS = (2003, 2006, 2010, 2013, 2016, 2021)

    def reverse_geocode_nuts(self, latlons: DataFrame, level: int = 3,
                             year: int = 2021,
                             out_col: str = "nuts",
                             max_distance: float | None = None,
                             distance_unit: str | None = None) -> DataFrame:
        """Per-(level, year) vintage tables exactly as the reference keys
        its caches (eurostat.py:38-40); default year 2021
        (eurostat.py:117-121)."""
        if not 0 <= level <= 3:
            raise ValueError("level must be in 0..3")  # eurostat.py guard
        if int(year) not in self.NUTS_YEARS:
            raise ValueError(
                f"year must be one of {self.NUTS_YEARS}")  # eurostat.py guard
        # no silent cross-vintage fallback: serving 2021 geometry for a
        # 2013 request would be a wrong answer, not a default
        try:
            prep = self._prep(f"nuts_l{level}_{year}")
        except FileNotFoundError as ex:
            raise FileNotFoundError(
                f"NUTS {year} level-{level} vintage is not prepared under "
                f"{self.prepared_dir} — run the prepare_regions job on that "
                "year's boundaries first (the reference downloads them "
                "lazily, eurostat.py:51-115; here prep is explicit)") from ex
        return reverse_geocode(latlons, prep,
                               out_col=out_col, max_distance=max_distance,
                               distance_unit=distance_unit)

    def reverse_geocode(self, latlons: DataFrame, entity: str, **kw) -> DataFrame:
        """Dispatcher parity with geocode.py:283-308 — kwargs (max_distance,
        year, version, dz, ...) forward to the entity adapter exactly as the
        reference forwards them to utilities.reverse_geocode."""
        dispatch = {
            "llsoa": self.reverse_geocode_llsoa,
            "gsp": self.reverse_geocode_gsp,
            "nuts": self.reverse_geocode_nuts,
            "dno": self.reverse_geocode_dno,
        }
        if entity not in dispatch:
            raise ValueError(f"The entity '{entity}' is not supported")
        return dispatch[entity](latlons, **kw)

    # --- raw boundary accessors (geocode.py:108-137 parity) ------------------

    def _regions_df(self, prep) -> DataFrame:
        """Prepared region set as a DataFrame: one row per region with its
        bbox + vertex count (+ any attrs). The DataFrame analogue of the
        reference returning the boundary GeoDataFrame itself."""
        import pandas as pd

        rows = []
        for rid, (xs, ys, offs, bbox) in prep.geoms.items():
            rows.append({
                "region_id": rid, "region_seq": prep.seq.get(rid),
                "xmin": bbox[0], "ymin": bbox[1],
                "xmax": bbox[2], "ymax": bbox[3],
                "n_vertices": int(len(xs)), "n_rings": int(len(offs) - 1),
            })
        df = pd.DataFrame(rows).sort_values("region_seq", ignore_index=True)
        if prep.attrs is not None:
            df = df.merge(prep.attrs, on="region_id", how="left")
        return self.spark.createDataFrame(df)

    def get_gsp_regions(self, version: str = "20260209") -> DataFrame:
        """geocode.py:117-126 parity (returns the region table itself)."""
        return self._regions_df(
            self._prep_versioned("gsp", version, "20260209"))

    def get_llsoa_boundaries(self, year: str = "2021") -> DataFrame:
        """geocode.py:128-137 parity."""
        return self._regions_df(
            self._prep_versioned("llsoa", year, "2021"))

    def get_dno_regions(self) -> DataFrame:
        """geocode.py:108-115 parity."""
        return self._regions_df(self._prep("dno"))

    def llsoa_from_postcode(self, postcodes: DataFrame,
                            postcode_col: str = "postcode") -> DataFrame:
        """J6: postcode -> LLSOA code (ons_nrs.py:462-488)."""
        from .operators.centroid_lookup import llsoa_from_postcode

        return llsoa_from_postcode(
            postcodes, self._table("pc_llsoa_lookup.parquet"), postcode_col)

    def gsp_expand(self, assignments: DataFrame) -> DataFrame:
        """J8: attach all (gnode, dno) rows per assigned GSP (neso.py:336-343)."""
        from .operators.centroid_lookup import gsp_expand

        return gsp_expand(assignments, self._table("gsp_lookup.parquet"))

    def geocode_address(self, addresses: DataFrame) -> DataFrame:
        """GMaps path stub: the reference falls back to the paid Google
        Maps API for addresses (gmaps.py:104-168). Without an API key the
        reference returns NaN/status 0 (gmaps.py:145-148) — reproduced here;
        statuses 3/4 exist in STATUS_CODES but are never produced."""
        return (addresses
                .withColumn("latitude", F.lit(None).cast("double"))
                .withColumn("longitude", F.lit(None).cast("double"))
                .withColumn("match_status", F.lit(0)))

    # --- CRS helpers ----------------------------------------------------------

    def bng2latlon(self, df: DataFrame, eastings_col: str = "eastings",
                   northings_col: str = "northings") -> DataFrame:
        from .functions.udfs import bng_to_latlon_udf

        ll = bng_to_latlon_udf(F.col(eastings_col).cast("double"),
                               F.col(northings_col).cast("double"))
        return (df.withColumn("__ll", ll)
                .withColumn("latitude", F.col("__ll.lat"))
                .withColumn("longitude", F.col("__ll.lon")).drop("__ll"))

    def latlon2bng(self, df: DataFrame, lat_col: str = "latitude",
                   lon_col: str = "longitude") -> DataFrame:
        from .functions.udfs import latlon_to_bng_udf

        en = latlon_to_bng_udf(F.col(lat_col).cast("double"),
                               F.col(lon_col).cast("double"))
        return (df.withColumn("__en", en)
                .withColumn("eastings", F.col("__en.easting"))
                .withColumn("northings", F.col("__en.northing")).drop("__en"))

    # --- list helpers: positional contract parity (geocode.py README usage) --

    def _latlon_df(self, latlons: list[tuple]) -> DataFrame:
        """``(lat, lon)`` list -> ``row_id long, latitude double, longitude
        double`` frame, ``row_id`` the list position."""
        return self.spark.createDataFrame(
            [(i, la, lo) for i, (la, lo) in enumerate(latlons)],
            "row_id long, latitude double, longitude double")

    def geocode_postcode_list(self, postcodes: list[str]) -> list[tuple]:
        df = self.spark.createDataFrame(
            [(i, p) for i, p in enumerate(postcodes)],
            "row_id long, postcode string")
        rows = self.geocode_postcode(df).orderBy("row_id").collect()
        return [(r.latitude, r.longitude, r.match_status) for r in rows]

    def reverse_geocode_llsoa_list(self, latlons: list[tuple], dz: bool = True
                                   ) -> list:
        df = self._latlon_df(latlons)
        rows = self.reverse_geocode_llsoa(df, dz=dz).orderBy("row_id").collect()
        return [r.llsoa for r in rows]

    def reverse_geocode_gsp_list(self, latlons: list[tuple]) -> list[tuple]:
        df = self._latlon_df(latlons)
        rows = self.reverse_geocode_gsp(df).orderBy("row_id").collect()
        return [(r.gsp, r.gsp_group) for r in rows]

    def _centroids_scalar_or_list(self, codes, method, in_col: str):
        """Shared scalar-or-iterable centroid lookup (the reference accepts
        either everywhere, ons_nrs.py:348-349/423-424/454-455): a single
        code returns one (lat, lon) tuple, an iterable returns a list in
        input order."""
        if scalar := isinstance(codes, str):
            codes = [codes]
        df = self.spark.createDataFrame(
            [(i, c) for i, c in enumerate(codes)],
            f"row_id long, {in_col} string")
        rows = method(df).orderBy("row_id").collect()
        out = [(r.latitude, r.longitude) for r in rows]
        return out[0] if scalar else out

    def geocode_llsoa_list(self, llsoas) -> list[tuple] | tuple:
        """Scalar-or-iterable like the reference (ons_nrs.py:348-349)."""
        return self._centroids_scalar_or_list(
            llsoas, self.geocode_llsoa, "llsoa")

    def geocode_constituency_list(self, names) -> list[tuple] | tuple:
        """Constituency-name centroids, scalar-or-iterable
        (ons_nrs.py:423-424 semantics: name normalized case/space)."""
        return self._centroids_scalar_or_list(
            names, self.geocode_constituency, "constituency")

    def geocode_local_authority_list(self, names) -> list[tuple] | tuple:
        """LAD-name centroids, scalar-or-iterable (ons_nrs.py:454-455)."""
        return self._centroids_scalar_or_list(
            names, self.geocode_local_authority, "lad")

    def reverse_geocode_nuts_list(self, latlons: list[tuple], level: int = 3,
                                  year: int = 2021, **kw) -> list:
        """Positional parity with the reference's reverse_geocode_nuts
        (geocode.py:169-175: List[(lat, lon)] -> List[str])."""
        df = self._latlon_df(latlons)
        rows = self.reverse_geocode_nuts(df, level=level, year=year,
                                         **kw).orderBy("row_id").collect()
        return [r.nuts for r in rows]

    def reverse_geocode_list(self, latlons: list[tuple], entity: str,
                             **kw) -> list:
        """Generic entity dispatch on coordinate lists (geocode.py:283
        parity) — covers dno and every other prepared entity."""
        df = self._latlon_df(latlons)
        out = self.reverse_geocode(df, entity, **kw).orderBy("row_id")
        out_col = [c for c in out.columns
                   if c not in ("row_id", "latitude", "longitude")][0]
        return [r[out_col] for r in out.collect()]

    # --- prepared-data lifecycle (cache_manager parity) -----------------------

    def force_setup(self, neso_setup: bool = True, cpo_setup: bool = True,
                    ons_setup: bool = True, eurostat_setup: bool = True
                    ) -> None:
        """force_setup parity (geocode.py:95-107): (re)build every fixture
        table + prepared region artifact under data_dir/prepared_dir. The
        reference downloads per-source datasets; here the synthetic build is
        one deterministic job, so the per-source flags only gate whether a
        full rebuild happens (any True -> rebuild all — the sources share
        one fixture builder) and exist for signature parity."""
        if neso_setup or cpo_setup or ons_setup or eurostat_setup:
            from .sources.fixtures import build_all

            build_all(self.data_dir, prepared_dir=self.prepared_dir)
            self._cpo = None
            self._preps.clear()

    def clear_prepared(self) -> None:
        """cache_manager.clear() analogue: drop prepared region artifacts."""
        if self.prepared_dir.exists():
            shutil.rmtree(self.prepared_dir)
        self._preps.clear()
