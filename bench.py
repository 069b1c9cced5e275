"""Benchmark: headline engine queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline workload (mirrors the north-star pipeline at bench scale):
* reverse_geocode_1m   — 1,000,000 synthetic points -> LLSOA regions via the
                         fused cell-index+ray-cast path (the reference's one
                         published number is 1M pts in ~300 s single-core;
                         README.md:161)
* pipeline_docs        — pages -> extract -> forward geocode -> LLSOA+GSP
                         (pages fixture replicated to ~200k docs)
* minhash_dedup        — MinHash-LSH near-dup pairs over replicated pages
* ann_topk             — brute-force cosine top-k over sf embeddings
* pricing_summary      — TPC-H-ish Q1 aggregation over sf lineitem
* dup_clusters         — connected components (partition-local union-find
                         + driver finish of the contracted residue) over
                         chain-shaped duplicate pairs
* lineage_resume       — no-op resume of a fully-committed lineage run:
                         manifest validation only, must be O(buckets) not
                         O(data) — the recovery-latency story at 100 TB
* stream_drain         — STEADY-STATE streaming throughput: the corpus is
                         drained in $BENCH_STREAM_BATCHES equal micro-
                         batches (maxFilesPerTrigger over a fixed
                         $BENCH_STREAM_FILES-file layout so every batch has
                         enough file-splits to occupy every core) and the
                         metric is the sum of triggerExecution over batches
                         1..K-1 from the query's own progress telemetry.
                         Batch 0 (plan compile + state-store init) and query
                         start/stop are excluded BY MEASUREMENT, not
                         subtraction — they are the latency story, metered
                         separately as stream_startup. Round-4's wall-clock
                         drain was fixed-cost-dominated (scaling eff 0.246)
                         because availableNow ran ONE batch whose map side
                         had 1-2 file-splits per core level — it measured
                         query overhead, not the drain. This measures the
                         drain: the per-batch processing a 24/7 streaming
                         deployment repeats forever.
* stream_startup       — the fixed Structured Streaming query start/stop
                         latency alone (1-row drain): reported separately
                         as a LATENCY metric so it can't masquerade as
                         throughput in either direction

Derived metrics reported: points/sec for the reverse geocode, docs/sec for
the pipeline, plus hw_miters_per_s — a ~2 s raw-CPU burn at 1 and $CPUS
processes embedded in the JSON so every recorded bench carries the
hardware state it ran under. This host
is multi-tenant and its per-core speed moves ±30-50% between rounds
(e.g. 2026-08-17: 8.45→6.06 Miters/s single-core, 157→72 at 32 procs
after a host restart); cross-round query-time comparisons are only
meaningful relative to these probes.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import pyspark.sql.functions as F  # noqa: E402

from geocode_spark.sources.fixtures import FIXTURE_DIR  # noqa: E402

FIX = str(FIXTURE_DIR)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


# Raw-CPU probe kernel + iteration count (perfbench/run.py runs the same
# kernel through _hw_probe).
BURN_N = 3_000_000


def _burn(n: int) -> float:
    import math
    x = 0.0
    for i in range(n):
        x += math.sqrt(abs(math.sin(i * 1.7)))
    return x


def _hw_probe(levels: tuple = (1,), n: int = BURN_N) -> dict:
    """Raw-CPU throughput (total million-iterations/s) of this host at each
    process count. Runs once per bench (~2 s) and is embedded in the
    output JSON so recorded benches disclose the hardware state they ran
    under (this host is multi-tenant; per-core speed varies ±30-50% across
    rounds)."""
    import multiprocessing as mp
    out = {}
    for procs in levels:
        with mp.Pool(procs) as p:
            p.map(_burn, [10_000] * procs)  # fork+import cost, untimed
            t0 = time.time()
            p.map(_burn, [n] * procs)
            dt = time.time() - t0
        out[str(procs)] = round(procs * n / dt / 1e6, 2)
    return out
N_POINTS = int(os.environ.get("BENCH_POINTS", "4000000"))
N_DOCS = int(os.environ.get("BENCH_DOCS", "200000"))
N_MINHASH = int(os.environ.get("BENCH_MINHASH", "80000"))
N_KNN = int(os.environ.get("BENCH_KNN_POINTS", "200000"))
N_CLUSTER = int(os.environ.get("BENCH_CLUSTER_NODES", "400000"))
# default 16x the pipeline corpus -> 800k-row micro-batches at the default
# sizes: the ~0.4 s per-batch fixed cost (job scheduling + state commit)
# must stay a small fraction of batch time for the steady-state number to
# measure throughput, and at 32 cores small batches are all fixed cost
N_STREAM = int(os.environ.get("BENCH_STREAM_DOCS", str(16 * N_DOCS)))
# fixed file layout: every micro-batch gets STREAM_FILES/STREAM_BATCHES
# splits, so the drain's map side parallelizes at any core count <= 16
STREAM_FILES = int(os.environ.get("BENCH_STREAM_FILES", "64"))
STREAM_BATCHES = int(os.environ.get("BENCH_STREAM_BATCHES", "4"))
WARMUP = os.environ.get("BENCH_WARMUP", "1") != "0"


def make_points(spark, n, regions="complex_regions.parquet", n_regions=64):
    """n deterministic points scattered across the bbox of the benchmark
    region set (realistic-complexity 400-vertex polygons): a mix of
    interior-cell hash-probe hits, boundary-cell exact ray-casts and
    misses — the workload profile of a real boundary dataset."""
    sq = spark.read.parquet(f"{FIX}/{regions}")
    ids = spark.range(n).select(F.col("id").alias("row_id"))
    pts = ids.select(
        "row_id", (F.col("row_id") % n_regions).alias("sqi"),
        ((F.col("row_id") % 211) * F.lit(1.0) / F.lit(211.0)).alias("fx"),
        ((F.col("row_id") % 199) * F.lit(1.0) / F.lit(199.0)).alias("fy"),
    )
    j = pts.join(F.broadcast(sq), pts["sqi"] == sq["region_seq"], "left")
    return j.select(
        "row_id",
        (F.col("ymin") + F.col("fy") * (F.col("ymax") - F.col("ymin"))).alias("latitude"),
        (F.col("xmin") + F.col("fx") * (F.col("xmax") - F.col("xmin"))).alias("longitude"),
    )


def make_pages(spark, n, vary_text=False):
    """Replicate the pages fixture to ~n rows with distinct urls.

    The fixture is one small file (1 scan partition) — without an explicit
    repartition the whole replicated corpus would flow through one task.
    ``vary_text`` appends the replica id to the text so replicas become
    *near*-duplicates (realistic dedup workload) instead of exact copies."""
    pages = spark.read.parquet(f"{FIX}/pages.parquet")
    base = pages.count()
    reps = max(n // base, 1)
    rep = spark.range(reps).select(F.col("id").alias("rep"))
    out = (pages.crossJoin(rep)
           .withColumn("url", F.concat_ws("/", "url", "rep")))
    if vary_text:
        out = out.withColumn(
            "text", F.concat(F.col("text"), F.lit(" rep"), F.col("rep")))
    return out.drop("rep").repartition(CPUS * 2)


REPEATS = int(os.environ.get("BENCH_REPEATS", "3"))


def bench(fn):
    """min-of-N timing: the noise-robust statistic on a multi-tenant host
    (observed run-to-run CPU variance >30%; min approximates the
    uncontended time)."""
    best, n = None, None
    for _ in range(REPEATS):
        t0 = time.time()
        n = fn()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    return best, n


def main():
    from geocode_spark.operators.dedup import minhash_dedup_pairs
    from geocode_spark.operators.forward_geocode import (forward_geocode,
                                                         prepare_cpo,
                                                         prepare_dims)
    from geocode_spark.operators.pipeline import extract_postcode_mentions
    from geocode_spark.operators.reverse_geocode import (
        reverse_geocode, reverse_geocode_multi)
    from geocode_spark.operators.similarity import brute_force_topk
    from geocode_spark.regions import load_prepared
    from geocode_spark.session import get_spark

    # probe BEFORE the SparkSession exists: multiprocessing forks, and
    # forking a driver with live JVM-gateway threads risks a child
    # inheriting a held import/logging lock and hanging the pool
    hw = _hw_probe((1, CPUS))

    spark = get_spark(app_name="geocode-spark-bench",
                      master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    llsoa = load_prepared("llsoa", f"{FIX}/prepared")
    cplx = load_prepared("complex", f"{FIX}/prepared")
    gsp = load_prepared("gsp", f"{FIX}/prepared")
    cpo = prepare_cpo(spark.read.parquet(f"{FIX}/cpo_raw.parquet"))
    queries = {}

    def run_reverse(n):
        pts = make_points(spark, n)
        return reverse_geocode(pts, cplx, output_cols=["row_id"]).filter(
            F.col("region_id").isNotNull()).count()

    def run_knn(n):
        """Metre-bounded nearest-region fallback (new in round 2): points
        ring 0.26-0.36 deg off each blob centre — mostly outside every
        polygon, so the perimeter-ring expansion + exact 400-vertex segment
        distances dominate."""
        import math

        sq = spark.read.parquet(f"{FIX}/complex_regions.parquet").select(
            "region_seq",
            ((F.col("xmin") + F.col("xmax")) / 2).alias("cx"),
            ((F.col("ymin") + F.col("ymax")) / 2).alias("cy"))
        ids = spark.range(n).select(F.col("id").alias("row_id"))
        pts = (ids.select(
                   "row_id", (F.col("row_id") % 64).alias("sqi"),
                   ((F.col("row_id") % 360) * F.lit(math.pi / 180.0)).alias("ang"),
                   (F.lit(0.26) + (F.col("row_id") % 50) * F.lit(0.002)).alias("r"))
               .join(F.broadcast(sq), F.col("sqi") == F.col("region_seq"))
               .select("row_id",
                       (F.col("cy") + F.col("r") * F.sin("ang")).alias("latitude"),
                       (F.col("cx") + F.col("r") * F.cos("ang")).alias("longitude")))
        out = reverse_geocode(pts, cplx, max_distance=30000.0,
                              distance_unit="m", output_cols=["row_id"])
        return out.filter(F.col("region_id").isNotNull()).count()

    # corpora are materialized (cached) OUTSIDE the timed region: the bench
    # measures the pipeline operators, not synthetic-data generation
    pipeline_corpus = make_pages(spark, N_DOCS).persist()
    pipeline_corpus.count()
    minhash_corpus = make_pages(spark, N_MINHASH, vary_text=True) \
        .select("url", "text").persist()
    minhash_corpus.count()

    # CPO dims aggregated once, persisted: static per vintage, so a session
    # that geocodes repeatedly should not re-aggregate per run (the same
    # reuse a per-batch streaming or bucketed-lineage deployment gets)
    cpo_dims = prepare_dims(cpo)

    def run_pipeline(corpus):
        # dedup_keys=False: the pre-aggregated CPO dims make the default
        # path shuffle-free; dedup_keys would add a driver-side broadcast
        # build (constant-time serial work that caps scaling).
        # reverse_geocode_multi: LLSOA + GSP assigned in ONE Arrow pass —
        # one python stage over the corpus instead of two.
        mentions = extract_postcode_mentions(corpus).select("url", "postcode")
        geo = forward_geocode(mentions, cpo, dedup_keys=False, dims=cpo_dims)
        out = reverse_geocode_multi(
            geo, [(llsoa, "llsoa"), (gsp, "gsp")], keep_cell=True)
        return out.count()

    def run_minhash(corpus):
        # near-dup corpus (replica texts differ by one token); sharper LSH
        # (8x8) against the synthetic corpus's homogeneous vocabulary, and
        # the stop-bucket skew guard as a boilerplate-heavy web corpus needs.
        # Cache cleared first: each repeat measures a COLD run including
        # signature computation (see BENCH/PAIRED_r4.md — earlier rounds'
        # numbers were flattered by warm-cache repeats).
        from geocode_spark.operators.dedup import clear_signature_cache

        clear_signature_cache()
        return minhash_dedup_pairs(
            corpus, text_col="text",
            id_col="url", threshold=0.8, shingle_k=8,
            bands=8, rows_per_band=8, max_bucket_size=64).count()

    # replicate the sf embeddings to a corpus large enough that JVM-side
    # scoring dominates scheduling overhead
    emb0 = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.expr("transform(embedding, x -> cast(x as double))"))
    n_emb = emb0.count()
    emb = (emb0.crossJoin(spark.range(max(200000 // n_emb, 1))
                          .select(F.col("id").alias("rep")))
           .withColumn("vec_id", F.col("vec_id") + F.col("rep") * n_emb)
           .drop("rep").repartition(CPUS * 2).cache())
    emb.count()

    def run_ann(k):
        q = emb.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("query_id"), "embedding")
        return brute_force_topk(emb, q, k=10).count()

    def run_dup_clusters(n):
        """Connected components over chain-shaped pair edges: clusters of
        16 docs linked as diameter-15 chains — the worst realistic shape
        for label propagation (web dup clusters are small but chained
        through near-dup intermediaries). n nodes, ~15n/16 edges."""
        from geocode_spark.operators.dedup import dup_clusters

        nodes = spark.range(n).select(F.col("id").alias("doc_id"))
        pairs = (spark.range(n - 1)
                 .filter((F.col("id") + 1) % 16 != 0)
                 .select(F.col("id").alias("id_a"),
                         (F.col("id") + 1).alias("id_b"))
                 .repartition(CPUS * 2))
        # at the default size the residue left by the partition-local
        # contraction fits dedup._DRIVER_MAX_EDGES, so the driver's
        # components kernel finishes it; max_iters bounds only the
        # distributed fallback loop
        return dup_clusters(nodes, pairs, max_iters=12).count()

    # ---- lineage no-op resume: recovery latency, not throughput --------
    # A resumable 100 TB job that crashes at 99% must restart in manifest-
    # validation time, not re-scan time. Setup commits all buckets once
    # (untimed); the timed call re-enters run_with_lineage against the
    # fully-committed output and must do ONLY manifest reads + validation.
    # Constant work per repeat by construction (resume is idempotent).
    import shutil
    import tempfile

    from geocode_spark.plans.lineage import run_with_lineage

    lineage_out = tempfile.mkdtemp(prefix="bench_lineage_")
    lineage_args = dict(
        out_dir=lineage_out, key_col="url",
        transform=lambda d: extract_postcode_mentions(d).select(
            "url", "postcode"),
        n_buckets=8, snapshot_id="bench", operator_version="1")
    run_with_lineage(pipeline_corpus.select("url", "text"), **lineage_args)

    def run_lineage_resume():
        res = run_with_lineage(pipeline_corpus.select("url", "text"),
                               **lineage_args)
        assert all(r.skipped for r in res), "expected a pure no-op resume"
        return len(res)

    # ---- streaming drain: steady-state micro-batch throughput ----------
    # Corpus laid out as STREAM_FILES parquet files, drained in
    # STREAM_BATCHES batches via maxFilesPerTrigger.
    # Metric = sum of triggerExecution for batches 1..K-1 read from the
    # query's progress telemetry — batch 0 (plan compile + state-store
    # init) and query start/stop are excluded by measurement and metered
    # separately as stream_startup.
    startup_src = tempfile.mkdtemp(prefix="bench_stream_tiny_")
    stream_cp = tempfile.mkdtemp(prefix="bench_stream_cp_")
    stream_src = tempfile.mkdtemp(prefix="bench_stream_src_")
    make_pages(spark, N_STREAM).repartition(STREAM_FILES) \
        .write.mode("overwrite").parquet(stream_src)
    pipeline_corpus.limit(1).write.mode("overwrite").parquet(startup_src)
    n_stream_files = sum(1 for f in os.listdir(stream_src)
                         if f.endswith(".parquet"))
    # parquet-footer count: cheap and exact
    n_stream = spark.read.parquet(stream_src).count()
    stream_schema = spark.read.parquet(stream_src).schema
    stream_seq = iter(range(10**6))

    def _drain(src, per_trigger=None):
        from geocode_spark.streaming.geocode_stream import (
            windowed_mention_counts)

        i = next(stream_seq)
        reader = spark.readStream.schema(stream_schema)
        if per_trigger:
            reader = reader.option("maxFilesPerTrigger", per_trigger)
        stream = reader.parquet(src)
        counts = windowed_mention_counts(stream, window="1 hour")
        q = (counts.writeStream.queryName(f"bench_drain_{i}")
             .format("memory").outputMode("complete")
             .option("checkpointLocation", f"{stream_cp}/cp{i}")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        spark.table(f"bench_drain_{i}").count()
        return q

    def run_stream_drain():
        """One full drain; returns (steady_seconds, steady_rows) over
        micro-batches 1..K-1 (batch 0 pays one-time state/plan setup —
        that cost is stream_startup's story, not throughput)."""
        per_trigger = max(n_stream_files // STREAM_BATCHES, 1)
        q = _drain(stream_src, per_trigger)
        steady_s, steady_rows = 0.0, 0
        for p in q.recentProgress:
            d = json.loads(p.json) if isinstance(p.json, str) else p.json
            if d.get("batchId", 0) >= 1 and d.get("numInputRows", 0) > 0:
                steady_s += d["durationMs"]["triggerExecution"] / 1000.0
                steady_rows += d["numInputRows"]
        assert steady_rows > 0, "drain produced no steady batches"
        return steady_s, steady_rows

    def run_stream_startup():
        q = _drain(startup_src)
        return spark.table(q.name).count()

    # 32x replication: at 8x the query was fixed-cost-bound (~0.3 s of
    # per-query scheduling dwarfing ~0.2 s of aggregation work at 2 cores),
    # so the scaling number measured Spark's constant overhead rather than
    # the aggregation. 19M cached rows make it throughput-bound.
    li_reps = int(os.environ.get("BENCH_PRICING_REPS", "32"))
    li0 = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    li = (li0.crossJoin(spark.range(li_reps).select(F.col("id").alias("rep")))
          .repartition(CPUS * 2).cache())
    li.count()

    def run_pricing():
        return (li.groupBy("l_returnflag", "l_linestatus")
                .agg(F.sum("l_quantity"), F.avg("l_extendedprice"), F.count("*"))
                .count())

    if WARMUP:
        # steady-state measurement: pay python-worker spawn, module imports,
        # broadcast distribution and JIT once, outside the timed runs — a
        # long-lived cluster job amortizes these over hours
        run_reverse(CPUS * 4096)
        run_knn(CPUS * 256)
        run_pipeline(pipeline_corpus.limit(4000))
        run_minhash(minhash_corpus.limit(2000))
        run_ann(2)
        run_pricing()
        run_dup_clusters(CPUS * 512)
        run_stream_startup()  # warms the whole streaming codepath cheaply
        # lineage resume needs no warmup: its setup pass above already
        # paid the python-worker + broadcast costs on this session

    queries["reverse_geocode_pts"], _ = bench(lambda: run_reverse(N_POINTS))
    queries["knn_fallback"], _ = bench(lambda: run_knn(N_KNN))
    queries["pipeline_docs"], _ = bench(lambda: run_pipeline(pipeline_corpus))
    queries["minhash_dedup"], _ = bench(lambda: run_minhash(minhash_corpus))
    queries["ann_topk"], _ = bench(lambda: run_ann(16))
    queries["pricing_summary"], _ = bench(run_pricing)
    queries["dup_clusters"], _ = bench(lambda: run_dup_clusters(N_CLUSTER))
    queries["lineage_resume"], _ = bench(run_lineage_resume)
    # stream_drain's value comes from progress telemetry, not wall time —
    # best run by per-row throughput, kept as a (time, rows) PAIR so the
    # reported docs/sec is a ratio one actual run produced (min(t) with an
    # independently-chosen max(rows) could mix runs that batched
    # differently)
    drain_runs = [run_stream_drain() for _ in range(REPEATS)]
    best_drain = min(drain_runs, key=lambda tr: tr[0] / tr[1])
    queries["stream_drain"], stream_rows_metered = best_drain
    queries["stream_startup"], _ = bench(run_stream_startup)
    shutil.rmtree(lineage_out, ignore_errors=True)
    shutil.rmtree(stream_src, ignore_errors=True)
    shutil.rmtree(startup_src, ignore_errors=True)
    shutil.rmtree(stream_cp, ignore_errors=True)

    total = sum(queries.values())
    result = {
        "metric": "bench_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in queries.items()},
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
        "cpus": CPUS,
        "points_per_sec": round(N_POINTS / queries["reverse_geocode_pts"], 1),
        "docs_per_sec": round(N_DOCS / queries["pipeline_docs"], 1),
        "stream_docs_per_sec": round(
            stream_rows_metered / queries["stream_drain"], 1),
        "stream_rows_metered": stream_rows_metered,
        "stream_rows_total": n_stream,
        "hw_miters_per_s": hw,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
