"""The benchmark's workloads. Each one is a closed loop: a single client
issues one operation at a time against the public ``geocode_spark`` API,
with inputs generated from the run's seed in ``prepare``.

A workload provides
* ``prepare()`` – region/CPO loads and input generation; repeatable, the
  runner times it several times and reports the median as part of set-up;
* ``warm()`` – the first (cold) call(s), once;
* ``op(i)`` – one timed operation, returning the input rows it completed;
* ``check(i)`` – the output check of operation ``i``, run after the timed
  loop; returns the number of mismatches;
* ``stages(tr)`` – traced run only: each layer timed alone on persisted
  inputs, plus single-threaded kernel timings, as per-layer metrics.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import os
import shutil
import time
from argparse import Namespace

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import oracle


def timed(fn, *args, **kw):
    t = time.perf_counter()
    out = fn(*args, **kw)
    return time.perf_counter() - t, out


def consume(df) -> None:
    """Run a DataFrame to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


@contextlib.contextmanager
def describe(spark, label):
    """Every Spark job submitted inside carries ``label`` as its job
    description (folded from the event log in the traced run)."""
    sc = spark.sparkContext
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setJobDescription(None)


def digest(*cols) -> str:
    h = hashlib.sha256()
    for c in cols:
        h.update(pd.util.hash_pandas_object(pd.Series(c), index=False)
                 .to_numpy().tobytes())
    return h.hexdigest()[:16]


def points_in_cells(rng, cells: np.ndarray, n: int):
    """n uniform points, each in a cell drawn from ``cells``."""
    from geocode_spark.cells import cell_bounds

    x0, y0, x1, y1 = cell_bounds(cells[rng.integers(0, len(cells), n)])
    return y0 + rng.random(n) * (y1 - y0), x0 + rng.random(n) * (x1 - x0)


class Workload:
    name = ""
    rows_per_op = 0

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def kernel_metrics(self, lat, lon, prep, off_mask=None):
        """Single-threaded timings of the public numpy kernels on a fixed
        sample: cell encoding, point-in-polygon over bbox candidates and,
        for the points in ``off_mask``, metre distance to every polygon."""
        from geocode_spark.cells import cell_of
        from geocode_spark.geometry import (PreparedPolygon,
                                            dist_to_polygon_m_prepared,
                                            points_in_polygon_prepared)

        m = {}
        m["cells.encode_s"], _ = timed(cell_of, lat, lon, prep.res)
        m["cells.points"] = float(len(lat))
        polys = [(PreparedPolygon(xs, ys, offs), bb)
                 for xs, ys, offs, bb in prep.geoms.values()]
        tests, t = 0, time.perf_counter()
        for pp, (x0, y0, x1, y1) in polys:
            sel = (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)
            tests += int(sel.sum())
            points_in_polygon_prepared(lon[sel], lat[sel], pp)
        m["geometry.pip_s"] = time.perf_counter() - t
        m["geometry.pip_tests"] = float(tests)
        if off_mask is not None and off_mask.any():
            t = time.perf_counter()
            for pp, _ in polys:
                dist_to_polygon_m_prepared(lon[off_mask], lat[off_mask], pp)
            m["geometry.dist_s"] = time.perf_counter() - t
            m["geometry.dist_evals"] = float(off_mask.sum() * len(polys))
        return m


# ---------------------------------------------------------------------------

class PointsBulk(Workload):
    """Seeded points through the fused ``reverse_geocode`` against the
    ``complex`` set (64 regions x 400 vertices), metre-bounded kNN on."""

    name = "points_bulk"
    rows_per_op = 400_000
    MAX_DISTANCE_M = 5000.0      # > a res-13 cell diagonal (~3.9 km here)
    SHARES = (0.50, 0.48, 0.02)  # interior cell, boundary cell inside, off
    POOL = 40_000                # brute-force classified boundary candidates
    SAMPLE = 2000                # rows per op checked against brute force
    KERNEL_SAMPLE = 50_000       # first input rows, for the kernel timings
    FILES = 8                    # input parquet files
    WARM_OPS = 6

    def prepare(self):
        from geocode_spark.regions import load_prepared

        c = self.ctx
        self.load_s, self.prep = timed(load_prepared, "complex", c.prepared)
        self.rings = oracle.load_rings(f"{c.prepared}/complex")
        cover = pd.read_parquet(f"{c.prepared}/complex/cover.parquet")
        interior = np.unique(cover.loc[cover["interior"], "cell"].to_numpy())
        boundary = np.unique(cover.loc[~cover["interior"], "cell"].to_numpy())
        rng = np.random.default_rng(c.seed)
        n = self.rows_per_op
        n_in, n_off = int(n * self.SHARES[0]), int(n * self.SHARES[2])
        lat_i, lon_i = points_in_cells(rng, interior, n_in)
        lat_c, lon_c = points_in_cells(rng, boundary, self.POOL)
        inside = pd.notna(oracle.assign(lon_c, lat_c, self.rings))
        pin, pout = np.flatnonzero(inside), np.flatnonzero(~inside)
        take = np.r_[rng.choice(pin, n - n_in - n_off),
                     rng.choice(pout, n_off)]
        lat = np.r_[lat_i, lat_c[take]]
        lon = np.r_[lon_i, lon_c[take]]
        kind = np.r_[np.zeros(n_in, np.int8), np.ones(n - n_in - n_off,
                                                      np.int8),
                     np.full(n_off, 2, np.int8)]
        order = rng.permutation(n)
        self.lat, self.lon, self.kind = lat[order], lon[order], kind[order]
        # several files, as a splittable bulk input: one file with one
        # row group would reach the Python kernels as a single task
        self.path = str(c.work / "points")
        shutil.rmtree(self.path, ignore_errors=True)
        os.mkdir(self.path)
        pdf = pd.DataFrame({"row_id": np.arange(n, dtype=np.int64),
                            "latitude": self.lat, "longitude": self.lon})
        for f, part in enumerate(np.array_split(np.arange(n), self.FILES)):
            pdf.iloc[part].to_parquet(f"{self.path}/part-{f}.parquet",
                                      index=False)
        self.sample = np.sort(rng.choice(n, self.SAMPLE, replace=False))
        self.out = c.work / "points_out"
        self.out.mkdir(exist_ok=True)

    def _geocode(self, points):
        from geocode_spark.operators.reverse_geocode import reverse_geocode

        return reverse_geocode(points, self.prep,
                               max_distance=self.MAX_DISTANCE_M,
                               distance_unit="m", output_cols=["row_id"])

    def warm(self):
        # operations keep speeding up for a few runs (Python workers start
        # and build their cover index one task at a time)
        for k in range(self.WARM_OPS):
            self.op(f"warm{k}")

    def op(self, i):
        self._geocode(self.spark.read.parquet(self.path)).write.mode(
            "overwrite").parquet(str(self.out / f"op={i}"))
        return self.rows_per_op

    def check(self, i):
        t = pq.read_table(str(self.out / f"op={i}")).to_pandas()
        t = t.sort_values("row_id", ignore_index=True)
        if len(t) != self.rows_per_op or not np.array_equal(
                t["row_id"].to_numpy(), np.arange(self.rows_per_op)):
            return self.rows_per_op
        s = self.sample
        return oracle.check_assignments(
            self.lon[s], self.lat[s], t["region_id"].to_numpy(object)[s],
            self.rings, self.MAX_DISTANCE_M)

    def stages(self, tr):
        import pyspark.sql.functions as F

        from geocode_spark.operators.reverse_geocode import reverse_geocode

        m = {"regions.load_s": self.load_s}
        pts = self.spark.read.parquet(self.path).persist()
        pts.count()
        with tr.span("stage.reverse_geocode"), \
                describe(self.spark, "pb:stage.reverse_geocode"):
            m["reverse_geocode.s"], _ = timed(consume, self._geocode(pts))
        direct = reverse_geocode(pts, self.prep, output_cols=["row_id"])
        n_direct = direct.filter(F.col("region_id").isNotNull()).count()
        n_any = self._geocode(pts).filter(
            F.col("region_id").isNotNull()).count()
        m["reverse_geocode.hit_ratio"] = n_direct / self.rows_per_op
        m["reverse_geocode.knn_rows"] = float(n_any - n_direct)
        pts.unpersist()
        s = slice(0, self.KERNEL_SAMPLE)
        m.update(self.kernel_metrics(self.lat[s], self.lon[s], self.prep,
                                     self.kind[s] == 2))
        return m


# ---------------------------------------------------------------------------

class DocsJob(Workload):
    """``jobs.geocode_pages`` over an Iceberg pages table written in
    set-up: extract -> forward geocode -> LLSOA+GSP, bucketed lineage
    commit into a fresh output directory per operation."""

    name = "docs_job"
    rows_per_op = 8000
    MAX_TEXTS = 48               # longest doc: 48 fixture texts (~4 KB)
    BUCKETS = 8
    SAMPLE = 500

    def prepare(self):
        from geocode_spark.sources.iceberg import write_iceberg

        c = self.ctx
        rng = np.random.default_rng(c.seed)
        fx = pd.read_parquet(f"{c.fix}/pages.parquet")
        texts = fx["text"].to_numpy(object)
        n = self.rows_per_op
        # log-uniform text count per doc: lengths spread from one fixture
        # text (~80 B) to MAX_TEXTS of them
        k = np.floor(np.exp(rng.random(n) * np.log(self.MAX_TEXTS + 1)))
        k = k.astype(np.int64)
        picks = rng.integers(0, len(texts), int(k.sum()))
        ends = np.cumsum(k)
        body = [" ".join(texts[picks[e - j:e]]) for e, j in zip(ends, k)]
        pdf = pd.DataFrame({
            "url": [f"https://bench.example/{c.seed}/{i}" for i in range(n)],
            "warc_ts": fx["warc_ts"].to_numpy()[rng.integers(0, len(fx), n)],
            "html": [f"<html><body>{t}</body></html>".encode() for t in body],
            "text": body,
            "lang": "en",
        })
        self.table = c.work / f"pages_{time.perf_counter_ns()}"
        df = self.spark.createDataFrame(pdf)
        self.write_s, _ = timed(write_iceberg, self.spark, df,
                                str(self.table), mode="overwrite")
        self.pages = pdf
        self.out = c.work / "docs_out"
        self.out.mkdir(exist_ok=True)

    def _args(self, outfile):
        c = self.ctx
        return Namespace(infile=str(self.table), outfile=str(outfile),
                         fixtures=c.fix, prepared=c.prepared,
                         buckets=self.BUCKETS, snapshot=None)

    def warm(self):
        self.op("warm")
        self._oracle()

    def op(self, i):
        from geocode_spark.jobs import geocode_pages

        with contextlib.redirect_stdout(io.StringIO()):
            geocode_pages(self.spark, self._args(self.out / f"op={i}"))
        return self.rows_per_op

    def _oracle(self):
        """DuckDB transcription of extract + forward geocode (the one the
        query oracle uses), pointed at this run's pages."""
        import duckdb

        import __spark_entry__ as E

        c = self.ctx
        pages = str(self.table / "data" / "*" / "*.parquet")
        sql = (E.oracle_sql()["forward_geocode"]
               .replace(f"{E.FIX}/pages.parquet", pages)
               .replace(f"{E.FIX}/cpo_geo.parquet", f"{c.fix}/cpo_geo.parquet"))
        con = duckdb.connect()
        try:
            want = con.execute(sql).df()
            self.n_mentions = con.execute(
                f"SELECT count(*) FROM (SELECT unnest(regexp_extract_all("
                f"upper(text), '{E.UK_POSTCODE_REGEX}', 0)) "
                f"FROM read_parquet('{pages}'))").fetchone()[0]
        finally:
            con.close()
        want = want.sort_values(["url", "postcode"], ignore_index=True)
        self.want = want
        self.want_digest = digest(want["url"], want["postcode"],
                                  want["match_status"].astype(np.int64))
        self.llsoa_rings = oracle.load_rings(f"{c.prepared}/llsoa")
        self.gsp_rings = oracle.load_rings(f"{c.prepared}/gsp")

    def _read_out(self, i):
        d = self.out / f"op={i}"
        parts = [pq.read_table(str(p)).to_pandas()
                 for p in sorted(d.glob("bucket=*"))]
        return pd.concat(parts, ignore_index=True)

    def check(self, i):
        got = self._read_out(i)
        bad = int(len(got) != self.n_mentions)
        g = (got.groupby(["url", "postcode"], as_index=False)
             .agg(latitude=("latitude", "first"),
                  longitude=("longitude", "first"),
                  match_status=("match_status", "first"),
                  llsoa=("llsoa", "first"), gsp=("gsp", "first"))
             .sort_values(["url", "postcode"], ignore_index=True))
        if digest(g["url"], g["postcode"],
                  g["match_status"].astype(np.int64)) != self.want_digest:
            return bad + 1
        dlat = np.abs(g["latitude"].to_numpy(float)
                      - self.want["latitude"].to_numpy(float))
        dlon = np.abs(g["longitude"].to_numpy(float)
                      - self.want["longitude"].to_numpy(float))
        bad += int(np.count_nonzero(np.nan_to_num(dlat + dlon, nan=0.0) > 2e-6))
        bad += int(np.count_nonzero(g["latitude"].isna().to_numpy()
                                    != self.want["latitude"].isna().to_numpy()))
        hit = g[g["latitude"].notna()]
        s = hit.iloc[np.random.default_rng(self.ctx.seed).choice(
            len(hit), min(self.SAMPLE, len(hit)), replace=False)]
        lat, lon = s["latitude"].to_numpy(float), s["longitude"].to_numpy(float)
        bad += oracle.check_assignments(lon, lat, s["llsoa"].to_numpy(object),
                                        self.llsoa_rings)
        bad += oracle.check_assignments(lon, lat, s["gsp"].to_numpy(object),
                                        self.gsp_rings)
        return bad

    def stages(self, tr):
        import pyspark.sql.functions as F

        from geocode_spark.operators.forward_geocode import (forward_geocode,
                                                             prepare_cpo,
                                                             prepare_dims)
        from geocode_spark.operators.pipeline import extract_postcode_mentions
        from geocode_spark.operators.reverse_geocode import \
            reverse_geocode_multi
        from geocode_spark.plans.lineage import run_with_lineage
        from geocode_spark.regions import load_prepared
        from geocode_spark.sources.loaders import read_pages

        c, spark, m = self.ctx, self.spark, {}

        def stage(name, fn, *a):
            with tr.span(f"stage.{name}"), describe(spark, f"pb:stage.{name}"):
                return timed(fn, *a)

        m["sources.write_s"] = self.write_s
        m["sources.read_s"], _ = stage(
            "sources", lambda: consume(read_pages(spark, str(self.table))))
        t = time.perf_counter()
        llsoa = load_prepared("llsoa", c.prepared)
        gsp = load_prepared("gsp", c.prepared)
        m["regions.load_s"] = time.perf_counter() - t
        pages = read_pages(spark, str(self.table)).persist()
        pages.count()
        m["pipeline.extract_s"], _ = stage(
            "pipeline", lambda: consume(extract_postcode_mentions(pages)))
        mentions = extract_postcode_mentions(pages).select(
            "url", "warc_ts", "lang", "postcode").persist()
        m["pipeline.mentions"] = float(mentions.count())
        cpo = prepare_cpo(spark.read.parquet(f"{c.fix}/cpo_raw.parquet"))
        def build_dims():
            dims = prepare_dims(cpo)
            for d in dims:
                d.count()
            return dims

        m["forward_geocode.dims_s"], dims = stage("forward_geocode.dims",
                                                  build_dims)
        # as geocode_documents calls it: distinct keys, dims per call
        m["forward_geocode.s"], _ = stage(
            "forward_geocode",
            lambda: consume(forward_geocode(mentions, cpo, dedup_keys=True)))
        geo = forward_geocode(mentions, cpo, dims=dims).persist()
        matched = geo.filter(F.col("match_status") > 0).count()
        m["forward_geocode.match_ratio"] = matched / max(
            m["pipeline.mentions"], 1.0)
        m["reverse_geocode.multi_s"], _ = stage(
            "reverse_geocode.multi", lambda: consume(reverse_geocode_multi(
                geo, [(llsoa, "llsoa"), (gsp, "gsp")], keep_cell=True)))
        job_out = spark.createDataFrame(self._read_out("warm")).persist()
        job_out.count()
        lin = c.work / "lineage_stage"
        args = dict(key_col="url", n_buckets=self.BUCKETS,
                    snapshot_id="bench", operator_version="1")
        m["lineage.commit_s"], _ = stage(
            "lineage.commit", lambda: run_with_lineage(job_out, str(lin), **args))
        m["lineage.resume_s"], _ = stage(
            "lineage.resume", lambda: run_with_lineage(job_out, str(lin), **args))
        m["lineage.bytes_written"] = float(sum(
            p.stat().st_size for p in lin.rglob("*") if p.is_file()))
        sample = geo.select("latitude", "longitude").where(
            F.col("latitude").isNotNull()).limit(20_000).toPandas()
        m.update(self.kernel_metrics(sample["latitude"].to_numpy(float),
                                     sample["longitude"].to_numpy(float),
                                     llsoa))
        for d in (pages, mentions, geo, job_out, *dims):
            d.unpersist()
        return m


# ---------------------------------------------------------------------------

class LookupLists(Workload):
    """``GeocoderSpark`` list calls of ~1,000 rows each, rotating over
    gsp, llsoa, dno, nuts level 3, nuts level 1 and postcodes."""

    name = "lookup_lists"
    rows_per_op = 1000
    CALLS = 64                   # distinct seeded request lists
    SAMPLE = 100
    # entity -> prepared set the brute-force check compares against
    SETS = {"gsp": "gsp_20260209", "llsoa": "llsoa_2021", "dno": "dno",
            "nuts3": "nuts_l3_2021", "nuts1": "nuts_l1_2021",
            "postcode": None}

    def prepare(self):
        from geocode_spark.geocoder import GeocoderSpark

        c = self.ctx
        self.geo = GeocoderSpark(self.spark, data_dir=c.fix,
                                 prepared_dir=c.prepared)
        rng = np.random.default_rng(c.seed)
        self.rings = {e: oracle.load_rings(f"{c.prepared}/{s}")
                      for e, s in self.SETS.items() if s}
        cpo = pd.read_parquet(f"{c.fix}/cpo_geo.parquet")
        self.cpo_mean = cpo.groupby("Postcode")[["latitude", "longitude"]] \
            .mean()
        codes = self.cpo_mean.index.to_numpy(object)
        dz = pd.read_parquet(f"{c.fix}/datazone_lookup.parquet")
        self.dz = dict(zip(dz["llsoa_code"], dz["datazone"]))
        self.requests = []
        ents = list(self.SETS)
        for i in range(self.CALLS):
            e = ents[i % len(ents)]
            if e == "postcode":
                self.requests.append((e, list(rng.choice(
                    codes, self.rows_per_op))))
                continue
            bb = self.rings[e].bbox
            r = rng.integers(0, len(bb), self.rows_per_op)
            # 10% margin around each region's bbox: most points hit, some miss
            w, h = bb[r, 2] - bb[r, 0], bb[r, 3] - bb[r, 1]
            lon = bb[r, 0] - 0.1 * w + rng.random(self.rows_per_op) * 1.2 * w
            lat = bb[r, 1] - 0.1 * h + rng.random(self.rows_per_op) * 1.2 * h
            self.requests.append((e, [(float(a), float(b))
                                      for a, b in zip(lat, lon)]))
        self.results = {}

    def call(self, entity, rows):
        g = self.geo
        if entity == "gsp":
            return [t[0] for t in g.reverse_geocode_gsp_list(rows)]
        if entity == "llsoa":
            return g.reverse_geocode_llsoa_list(rows)
        if entity == "dno":
            return g.reverse_geocode_list(rows, "dno")
        if entity == "nuts3":
            return g.reverse_geocode_nuts_list(rows, level=3)
        if entity == "nuts1":
            return g.reverse_geocode_nuts_list(rows, level=1)
        return g.geocode_postcode_list(rows)

    def warm(self):
        for e, rows in self.requests[:len(self.SETS)]:
            self.call(e, rows)

    def op(self, i):
        e, rows = self.requests[i % self.CALLS]
        self.results[i] = self.call(e, rows)
        return len(rows)

    def check(self, i):
        e, rows = self.requests[i % self.CALLS]
        got = self.results.pop(i)
        if len(got) != len(rows):
            return len(rows)
        s = np.random.default_rng(i).choice(len(rows), self.SAMPLE,
                                            replace=False)
        if e == "postcode":
            bad = 0
            for k in s:
                lat, lon, status = got[k]
                want = self.cpo_mean.loc[rows[k]]
                bad += (status != 1 or abs(lat - want["latitude"]) > 2e-6
                        or abs(lon - want["longitude"]) > 2e-6)
            return bad
        lat = np.array([rows[k][0] for k in s])
        lon = np.array([rows[k][1] for k in s])
        g = np.array([got[k] for k in s], dtype=object)
        if e == "llsoa":
            # the facade relabels Scottish LLSOAs to data zones (dz=True)
            want = oracle.assign(lon, lat, self.rings[e])
            want = np.array([self.dz.get(w, w) if w is not None else None
                             for w in want], dtype=object)
            return int(np.count_nonzero(want != g))
        return oracle.check_assignments(lon, lat, g, self.rings[e])

    def stages(self, tr):
        """The list helpers' three phases timed apart, per entity: build
        the input DataFrame, build the plan (lazy facade call), collect."""
        from geocode_spark.regions import load_prepared

        c, spark, m = self.ctx, self.spark, {}
        t = time.perf_counter()
        for s in self.SETS.values():
            if s:
                load_prepared(s, c.prepared)
        m["regions.load_s"] = time.perf_counter() - t
        phases = {"create_df": [], "plan": [], "collect": []}
        g = self.geo
        plans = {
            "gsp": lambda df: g.reverse_geocode_gsp(df),
            "llsoa": lambda df: g.reverse_geocode_llsoa(df),
            "dno": lambda df: g.reverse_geocode(df, "dno"),
            "nuts3": lambda df: g.reverse_geocode_nuts(df, level=3),
            "nuts1": lambda df: g.reverse_geocode_nuts(df, level=1),
            "postcode": lambda df: g.geocode_postcode(df),
        }
        for e, rows in self.requests[:2 * len(self.SETS)]:
            with tr.span("stage.geocoder", entity=e), \
                    describe(spark, "pb:stage.geocoder"):
                if e == "postcode":
                    data, schema = ([(k, p) for k, p in enumerate(rows)],
                                    "row_id long, postcode string")
                else:
                    data, schema = ([(k, a, b) for k, (a, b) in enumerate(rows)],
                                    "row_id long, latitude double, "
                                    "longitude double")
                with tr.span("geocoder.create_df"):
                    dt, df = timed(spark.createDataFrame, data, schema)
                phases["create_df"].append(dt)
                with tr.span("geocoder.plan"):
                    dt, out = timed(lambda: plans[e](df).orderBy("row_id"))
                phases["plan"].append(dt)
                with tr.span("geocoder.collect"):
                    dt, _ = timed(out.collect)
                phases["collect"].append(dt)
        for k, v in phases.items():
            m[f"geocoder.{k}_s"] = float(np.median(v))
        e, rows = self.requests[0]
        lat = np.array([r[0] for r in rows])
        lon = np.array([r[1] for r in rows])
        m.update(self.kernel_metrics(lat, lon,
                                     load_prepared(self.SETS[e], c.prepared)))
        return m


WORKLOADS = {w.name: w for w in (PointsBulk, DocsJob, LookupLists)}

