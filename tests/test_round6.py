"""Round-6 optimization equivalence guards.

The round-6 changes restructure PLANS while promising identical results:
* minhash_dedup_pairs: fused bucket-grouped generate+verify with
  exactly-once emission (hot-bucket corner included) must equal an
  independent pandas reimplementation of the round-5 candidate+verify
  semantics, including max_bucket_size caps.
* brute_force_topk: numpy batch scoring must be BIT-identical to the old
  crossJoin + Catalyst aggregate/zip_with plan on adversarial inputs
  (null vectors, zero norms, ragged lengths, duplicate cosines).
"""

import numpy as np
import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from geocode_spark.operators.dedup import minhash_dedup_pairs, minhash_signatures


def _reference_minhash_pairs(spark, df, threshold, num_hashes, shingle_k,
                             bands, rows_per_band, cap):
    """Round-5 semantics, reimplemented independently in pandas: band the
    (engine-computed) signatures with the engine's own xxhash64 banding
    expression, drop hot buckets, self-pair within buckets, estimate
    jaccard from signature equality, distinct."""
    sigs = minhash_signatures(df.select("doc_id", "text"), "text", "doc_id",
                              num_hashes, shingle_k)
    banded = sigs.select(
        "doc_id", "signature",
        F.posexplode(F.array(*[
            F.xxhash64(F.lit(i), F.slice("signature", i * rows_per_band + 1,
                                         rows_per_band))
            for i in range(bands)
        ])).alias("band", "band_hash")).toPandas()
    sig_by_id = {r.doc_id: np.asarray(r.signature, dtype=np.int64)
                 for r in banded.drop_duplicates("doc_id").itertuples()}
    out = set()
    for (_, _), grp in banded.groupby(["band", "band_hash"]):
        ids = sorted(grp["doc_id"].tolist())
        if len(ids) < 2 or (cap is not None and len(ids) > cap):
            continue
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                a, b = ids[i], ids[j]
                est = float((sig_by_id[a] == sig_by_id[b]).sum()) / num_hashes
                if est >= threshold:
                    out.add((a, b, est))
    return out


class TestFusedMinhashEquivalence:
    def _corpus(self, spark, n_groups=12, group_size=9):
        """Near-dup groups big enough that several buckets EXCEED a small
        cap in some bands but not others (signatures differ slightly per
        member), exercising the first-kept-band emission rule."""
        rows = []
        did = 0
        base_words = ["alpha beta gamma delta epsilon zeta eta theta iota",
                      "one two three four five six seven eight nine ten",
                      "lorem ipsum dolor sit amet consectetur adipiscing"]
        for g in range(n_groups):
            base = base_words[g % 3] + f" group{g} " + "filler " * (6 + g % 5)
            for m in range(group_size):
                # small per-member mutation: near-dup, signatures differ
                rows.append((did, base + (f" tail{m}" if m else "")))
                did += 1
        return spark.createDataFrame(rows, "doc_id long, text string")

    @pytest.mark.parametrize("cap", [None, 4, 6])
    def test_matches_reference_with_and_without_cap(self, spark, cap):
        df = self._corpus(spark)
        got = {(r.id_a, r.id_b, r.jaccard_est)
               for r in minhash_dedup_pairs(
                   df, text_col="text", id_col="doc_id", threshold=0.5,
                   num_hashes=32, shingle_k=4, bands=8, rows_per_band=4,
                   max_bucket_size=cap).collect()}
        want = _reference_minhash_pairs(spark, df, 0.5, 32, 4, 8, 4, cap)
        assert got == want
        if cap is None:
            assert len(got) > 0, "corpus must actually produce pairs"

    def test_exactly_once_emission(self, spark):
        """Pre-distinct output must already be duplicate-free on a corpus
        with no band-hash collisions (the distinct is then a no-op)."""
        from pyspark.sql.classic.dataframe import DataFrame

        df = self._corpus(spark)
        assert isinstance(df, DataFrame)  # the patch reaches this plan
        orig = DataFrame.distinct
        try:
            DataFrame.distinct = lambda self: self
            pre = minhash_dedup_pairs(
                df, text_col="text", id_col="doc_id", threshold=0.5,
                num_hashes=32, shingle_k=4, bands=8, rows_per_band=4,
                max_bucket_size=6).collect()
        finally:
            DataFrame.distinct = orig
        keys = [(r.id_a, r.id_b) for r in pre]
        assert len(keys) == len(set(keys))

    def test_carry_across_tiny_arrow_batches(self, spark):
        """The bucket walk's carry logic (a bucket spanning Arrow batch
        boundaries) never fires under the default 65536-row batches —
        every test partition fits one batch. Force 3-row batches so most
        buckets straddle batches and re-check against the reference."""
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        prev = spark.conf.get(key)
        df = self._corpus(spark)
        try:
            spark.conf.set(key, "3")
            got = {(r.id_a, r.id_b, r.jaccard_est)
                   for r in minhash_dedup_pairs(
                       df, text_col="text", id_col="doc_id", threshold=0.5,
                       num_hashes=32, shingle_k=4, bands=8, rows_per_band=4,
                       max_bucket_size=6).collect()}
        finally:
            spark.conf.set(key, prev)
        want = _reference_minhash_pairs(spark, df, 0.5, 32, 4, 8, 4, 6)
        assert got == want and len(got) > 0


class TestBruteForceTopkBitParity:
    def _old_plan(self, corpus, queries, k):
        """The round-5 crossJoin + Catalyst-expression plan, inline."""
        dot = ("aggregate(zip_with(__cv, __qv, (x, y) -> x * y), 0D, "
               "(acc, v) -> acc + v)")
        nrm = lambda c: F.sqrt(F.expr(
            f"aggregate({c}, 0D, (acc, v) -> acc + v * v)"))
        q = queries.select(F.col("query_id"), F.col("embedding").alias("__qv"))
        c = corpus.select(F.col("vec_id"), F.col("embedding").alias("__cv"))
        scored = (c.crossJoin(F.broadcast(q))
                  .withColumn("__dot", F.expr(dot))
                  .withColumn("__na", nrm("__cv"))
                  .withColumn("__nb", nrm("__qv"))
                  .withColumn("cosine",
                              F.when((F.col("__na") > 0) & (F.col("__nb") > 0),
                                     F.col("__dot")
                                     / (F.col("__na") * F.col("__nb")))
                              .otherwise(F.lit(0.0))))
        w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                                  F.col("vec_id"))
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "vec_id", "cosine", "rank"))

    def test_bit_identical_on_adversarial_vectors(self, spark):
        self._run_parity(spark)

    def test_bit_identical_under_tiny_arrow_batches(self, spark):
        """Per-batch candidate pruning must be batching-invariant: the
        global top-k is inside the union of per-batch top-k for ANY batch
        split. Force 3-row batches so every group is fragmented."""
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        prev = spark.conf.get(key)
        try:
            spark.conf.set(key, "3")
            self._run_parity(spark)
        finally:
            spark.conf.set(key, prev)

    def _run_parity(self, spark):
        from geocode_spark.operators.similarity import brute_force_topk

        rng = np.random.default_rng(11)
        rows = []
        for i in range(40):
            rows.append((i, [float(x) for x in rng.standard_normal(16)]))
        rows.append((40, None))                         # null vector
        rows.append((41, [0.0] * 16))                   # zero norm
        rows.append((42, [float(x) for x in rng.standard_normal(12)]))  # ragged
        rows.append((43, rows[0][1]))                   # exact duplicate of 0
        # ids past 2^53 and a NULL id, tied on cosine with query 5: the
        # window's id order (NULL first) must break the tie
        for big in (2**62 + 1, None, 2**62 + 3):
            rows.append((big, rows[5][1]))
        corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        queries = corpus.filter(F.col("vec_id").isin(0, 5, 41)).select(
            F.col("vec_id").alias("query_id"), "embedding")
        # k=7 exercises top-k pruning; k=60 > |corpus| ranks EVERY row,
        # including the NULL-cosine ragged rows' nulls-last ordering
        for k in (7, 60):
            new = brute_force_topk(corpus, queries, k=k).collect()
            old = self._old_plan(corpus, queries, k=k).collect()
            key = lambda r: (r.query_id, r.rank)
            new_m = {key(r): (r.vec_id, r.cosine) for r in new}
            old_m = {key(r): (r.vec_id, r.cosine) for r in old}
            assert new_m.keys() == old_m.keys()
            for kk in old_m:
                assert new_m[kk][0] == old_m[kk][0], \
                    (k, kk, new_m[kk], old_m[kk])
                a, b = new_m[kk][1], old_m[kk][1]
                if a is None or b is None:
                    assert a is None and b is None
                else:
                    # bit-identity, not approx: the point of _seq_dot
                    assert np.float64(a).tobytes() == np.float64(b).tobytes(), \
                        (k, kk, a, b)
