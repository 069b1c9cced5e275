"""Round-6 optimization side-benchmarks (bench.py is FROZEN for the driver;
this file holds the extra isolation measurements the optimization round
needs — guide §1.4/1.5: noop sinks + labeled jobs, min-of-N timing).

Usage: python bench_extra.py [piece ...]
Pieces: dup minhash sig ann stream_batch pipeline reverse
(default: all). Prints one JSON line per piece; an unknown piece name
exits non-zero.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import pyspark.sql.functions as F  # noqa: E402

import bench  # noqa: E402  (reuses the frozen corpus builders)

FIX = bench.FIX
SF_DIR = bench.SF_DIR
CPUS = bench.CPUS
REPEATS = int(os.environ.get("BENCH_REPEATS", "3"))
PIECES = ["dup", "minhash", "sig", "ann", "stream_batch", "pipeline",
          "reverse"]


def timed(label, fn, spark):
    best = None
    for _ in range(REPEATS):
        spark.sparkContext.setJobDescription(label)
        t0 = time.time()
        fn()
        dt = time.time() - t0
        spark.sparkContext.setJobDescription(None)
        best = dt if best is None or dt < best else best
    print(json.dumps({"piece": label, "sec": round(best, 3)}), flush=True)
    return best


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    from geocode_spark.operators.dedup import (clear_signature_cache,
                                               dup_clusters,
                                               minhash_dedup_pairs,
                                               minhash_signatures)
    from geocode_spark.operators.forward_geocode import (forward_geocode,
                                                         prepare_cpo,
                                                         prepare_dims)
    from geocode_spark.operators.pipeline import extract_postcode_mentions
    from geocode_spark.operators.reverse_geocode import (
        reverse_geocode, reverse_geocode_multi)
    from geocode_spark.operators.similarity import brute_force_topk
    from geocode_spark.regions import load_prepared
    from geocode_spark.session import get_spark

    pieces = sys.argv[1:] or PIECES
    unknown = sorted(set(pieces) - set(PIECES))
    if unknown:
        sys.exit(f"unknown piece(s) {unknown}; valid: {' '.join(PIECES)}")
    spark = get_spark(app_name="geocode-spark-bench-extra",
                      master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    if "dup" in pieces:
        n = int(os.environ.get("BENCH_CLUSTER_NODES", "400000"))
        nodes = spark.range(n).select(F.col("id").alias("doc_id"))
        pairs = (spark.range(n - 1)
                 .filter((F.col("id") + 1) % 16 != 0)
                 .select(F.col("id").alias("id_a"),
                         (F.col("id") + 1).alias("id_b"))
                 .repartition(CPUS * 2))
        dup_clusters(nodes, pairs, max_iters=12).count()  # warm
        timed("dup_clusters",
              lambda: dup_clusters(nodes, pairs, max_iters=12).count(), spark)

    if "minhash" in pieces or "sig" in pieces:
        corpus = bench.make_pages(spark, int(os.environ.get(
            "BENCH_MINHASH", "80000")), vary_text=True) \
            .select("url", "text").persist()
        corpus.count()
        if "sig" in pieces:
            def run_sig():
                clear_signature_cache()
                noop(minhash_signatures(corpus, "text", "url", 64, 8)
                     .select("url", "signature"))
            run_sig()
            timed("minhash_signatures_noop", run_sig, spark)
        if "minhash" in pieces:
            def run_mh():
                clear_signature_cache()
                return minhash_dedup_pairs(
                    corpus, text_col="text", id_col="url", threshold=0.8,
                    shingle_k=8, bands=8, rows_per_band=8,
                    max_bucket_size=64).count()
            run_mh()
            timed("minhash_full", run_mh, spark)

    if "ann" in pieces:
        emb0 = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
            "embedding", F.expr("transform(embedding, x -> cast(x as double))"))
        n_emb = emb0.count()
        emb = (emb0.crossJoin(spark.range(max(200000 // n_emb, 1))
                              .select(F.col("id").alias("rep")))
               .withColumn("vec_id", F.col("vec_id") + F.col("rep") * n_emb)
               .drop("rep").repartition(CPUS * 2).cache())
        emb.count()
        q = emb.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("query_id"), "embedding")
        brute_force_topk(emb, q, k=10).count()
        timed("ann_brute_topk",
              lambda: brute_force_topk(emb, q, k=10).count(), spark)

    if "stream_batch" in pieces or "pipeline" in pieces:
        n_docs = int(os.environ.get("BENCH_DOCS", "200000"))
        corpus = bench.make_pages(spark, n_docs).persist()
        corpus.count()
        if "stream_batch" in pieces:
            # batch-mode equivalent of ONE steady micro-batch plan: the
            # windowed aggregation over 1/4 of the stream corpus rows
            big = bench.make_pages(spark, 4 * n_docs).persist()
            big.count()
            def run_agg():
                stream = big.withColumn("warc_ts",
                                        F.col("warc_ts").cast("timestamp"))
                m = extract_postcode_mentions(stream)
                noop(m.groupBy(F.window("warc_ts", "1 hour").alias("w"),
                               "postcode")
                     .agg(F.count("*").alias("n_mentions"))
                     .select(F.col("w.start").alias("window_start"),
                             "postcode", "n_mentions"))
            run_agg()
            timed("stream_one_batch_equiv_noop", run_agg, spark)
            timed("extract_only_noop",
                  lambda: noop(big.select(
                      F.explode(F.regexp_extract_all(
                          F.upper(F.col("text")),
                          F.lit(r"\b([A-Z]{1,2}[0-9][A-Z0-9]?)\s?([0-9][A-Z]{2})\b"),
                          F.lit(0))).alias("m"))), spark)
            big.unpersist()
        if "pipeline" in pieces:
            llsoa = load_prepared("llsoa", f"{FIX}/prepared")
            gsp = load_prepared("gsp", f"{FIX}/prepared")
            cpo = prepare_cpo(spark.read.parquet(f"{FIX}/cpo_raw.parquet"))
            cpo_dims = prepare_dims(cpo)

            def run_pipe():
                mentions = extract_postcode_mentions(corpus) \
                    .select("url", "postcode")
                geo = forward_geocode(mentions, cpo, dedup_keys=False,
                                      dims=cpo_dims)
                out = reverse_geocode_multi(
                    geo, [(llsoa, "llsoa"), (gsp, "gsp")], keep_cell=True)
                return out.count()
            run_pipe()
            timed("pipeline_full", run_pipe, spark)
            timed("pipeline_extract_only",
                  lambda: noop(extract_postcode_mentions(corpus)
                               .select("url", "postcode")), spark)

    if "reverse" in pieces:
        cplx = load_prepared("complex", f"{FIX}/prepared")
        n = int(os.environ.get("BENCH_POINTS", "4000000"))
        pts = bench.make_points(spark, n)
        def run_rev():
            return reverse_geocode(pts, cplx, output_cols=["row_id"]).filter(
                F.col("region_id").isNotNull()).count()
        run_rev()
        timed("reverse_geocode_pts", run_rev, spark)
        timed("make_points_only_noop", lambda: noop(pts), spark)

    spark.stop()


if __name__ == "__main__":
    main()
