"""Similarity search over an embedding column (array<float>).

* brute_force_topk — exact cosine top-k per query vector: the queries
  (small side) ride in the task closure, each corpus Arrow batch is scored
  in numpy and emits its local top-k per query, a window ranks the
  candidates. The correctness baseline.
* lsh_buckets / lsh_topk — random-hyperplane LSH: bucket corpus and queries
  by an s-bit sign sketch, candidate = same bucket (or Hamming<=r probe),
  exact cosine re-rank inside buckets only. The 100 TB path: corpus pass is
  one map + one bucketed shuffle; queries never see rows outside their
  probed buckets.
* ivf_topk — IVF-style: k-means-lite centroids (deterministic seeded
  sample), assign corpus to nearest centroid (nprobe search at query time).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import DoubleType, LongType, StructField

from ..functions.udfs import arrow_map, settle_worker_imports


def _dot(a, b):
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")


def _norm_col(vec_col: str):
    return F.sqrt(F.expr(
        f"aggregate({vec_col}, 0D, (acc, v) -> acc + v * v)"))


def _seq_dot(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Row dot products with the SAME floating-point result as Catalyst's
    ``aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,v) -> acc+v)``:
    per-element product then a strict LEFT-TO-RIGHT sum. numpy's ``@`` /
    ``sum`` use pairwise summation (different rounding); the explicit
    per-column fold below performs the identical IEEE-754 operation
    sequence, so cosines are bit-identical to the pre-round-6 JVM plan."""
    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for j in range(mat.shape[1]):
        acc = acc + mat[:, j] * q[j]
    return acc


def _seq_sqnorm(mat: np.ndarray) -> np.ndarray:
    """Left-to-right fold of v*v per row (see _seq_dot)."""
    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for j in range(mat.shape[1]):
        acc = acc + mat[:, j] * mat[:, j]
    return acc


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id") -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, cosine, rank).

    The queries (the small side) are collected once and shipped in the
    task closure. One :func:`~geocode_spark.functions.udfs.arrow_map` pass
    scores each corpus Arrow batch against every query in numpy and emits
    only the batch's local top-k per query (the id passes through as the
    batch's own Arrow array); a window over those ``O(batches x queries x
    k)`` candidates ranks the exact result. Batch candidates are chosen in
    the window's order (cosine DESC with NaN largest, then id ASC with
    NULL first), so the global top-k is inside their union for any batch
    split. Cosines equal Catalyst's ``aggregate(zip_with(...))`` form bit
    for bit (``_seq_dot``); a null or zero-norm vector scores 0.0, and a
    length-mismatched pair scores NULL, ranked after every non-null."""
    q_rows = queries.select(F.col(query_id_col), F.col(vec_col)).collect()
    qs = []
    for qid, vec in q_rows:
        if vec is None:
            qs.append((qid, None, 0.0))
        else:
            v = np.asarray(vec, dtype=np.float64)
            sq = 0.0
            for x in v.tolist():          # left-to-right, like the JVM
                sq = sq + x * x
            qs.append((qid, v, float(np.sqrt(sq))))

    def body(rb):
        ids, vecs = rb.column(id_col), rb.column(vec_col)
        rank = pc.rank(ids, "ascending", null_placement="at_start").to_numpy()
        lens = pc.fill_null(pc.list_value_length(vecs), -1).to_numpy()
        off = vecs.offsets.to_numpy()
        flat = vecs.values.cast(pa.float64()).to_numpy(zero_copy_only=False)
        take, out_q, out_cos = [], [], []

        def emit(qid, rows, cos):
            take.append(rows)
            out_q.extend([qid] * len(rows))
            out_cos.extend(cos if isinstance(cos, list) else
                           [cos] * len(rows))

        for L in np.unique(lens):
            rows = np.flatnonzero(lens == L)
            rows = rows[np.argsort(rank[rows])]     # id ASC, NULL first
            if L < 0:
                for qid, _, _ in qs:
                    emit(qid, rows[:k], 0.0)
                continue
            mat = flat[off[rows][:, None] + np.arange(L)]
            na = np.sqrt(_seq_sqnorm(mat))
            for qid, qv, nb in qs:
                if qv is not None and len(qv) != L and nb > 0:
                    # zip_with pads -> null product -> NULL cosine when both
                    # norms are > 0; NULLs rank after every non-null
                    nul = na > 0
                    emit(qid, rows[~nul][:k], 0.0)
                    emit(qid, rows[nul][:k], None)
                elif qv is None or len(qv) != L or nb <= 0:
                    emit(qid, rows[:k], 0.0)
                else:
                    with np.errstate(invalid="ignore", divide="ignore"):
                        cos = np.where(na > 0, _seq_dot(mat, qv) / (na * nb),
                                       0.0)
                    # Spark sorts NaN as LARGEST in desc order; the stable
                    # sort keeps id order among equal cosines
                    o = np.argsort(-np.where(np.isnan(cos), np.inf, cos),
                                   kind="stable")[:k]
                    emit(qid, rows[o], cos[o].tolist())
        return (np.concatenate(take), [out_q, out_cos]) if take else None

    cand = arrow_map(corpus.select(id_col, vec_col), body,
                     [queries.schema[query_id_col],
                      StructField("cosine", DoubleType())], keep=[id_col])
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.col(id_col))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim))


def lsh_buckets(df: DataFrame, dim: int, bits: int = 16,
                vec_col: str = "embedding", seed: int = 42,
                out_col: str = "bucket") -> DataFrame:
    """Random-hyperplane sign sketch -> int64 bucket id (Arrow batch)."""
    H = _hyperplanes(dim, bits, seed)

    @F.pandas_udf(LongType())
    def sketch(vecs: pd.Series) -> pd.Series:
        settle_worker_imports()
        m = np.stack(vecs.to_numpy())
        signs = (m @ H.T) > 0
        weights = (1 << np.arange(bits)).astype(np.int64)
        return pd.Series(signs @ weights)

    return df.withColumn(out_col, sketch(F.col(vec_col)))


def lsh_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 10,
             bits: int = 12, id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", seed: int = 42,
             hamming_probes: int = 1) -> DataFrame:
    """ANN top-k: bucket candidates, exact cosine re-rank.

    Multi-probe: each query also probes every bucket within Hamming distance
    ``hamming_probes`` of its own sketch (bits+1 buckets at distance 1,
    plus C(bits,2) at distance 2) — the standard recall lift that costs
    query-side fanout only; the corpus is still touched once per
    (bucket, query) candidate group. Recall is tunable via ``bits``
    (fewer = bigger buckets) and ``hamming_probes``.

    Exactness corner: with ``hamming_probes >= bits`` every bucket is
    probed, the candidate set is the whole corpus and the result equals
    ``brute_force_topk`` — that configuration exercises the complete LSH
    plumbing while staying oracle-checkable (used by the driver's
    ann_topk_lsh correctness entry; production recall settings are
    covered by the recall-floor tests)."""
    if hamming_probes not in (0, 1, 2):
        raise ValueError(
            "hamming_probes supports 0 (own bucket), 1 (plus single-bit-"
            "flip buckets) or 2 (plus two-bit flips); higher radii are "
            "not implemented")
    cb = lsh_buckets(corpus, dim, bits, vec_col, seed)
    qb = lsh_buckets(queries, dim, bits, vec_col, seed)
    if hamming_probes >= 1:
        flips = [F.col("bucket")] + [
            F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(bits)]
        if hamming_probes == 2:
            flips += [
                F.col("bucket").bitwiseXOR(F.lit((1 << i) | (1 << j)))
                for i in range(bits) for j in range(i + 1, bits)]
        qb = qb.withColumn("bucket", F.explode(F.array(*flips)))
    q = qb.select(query_id_col, F.col(vec_col).alias("__qv"), "bucket")
    c = cb.select(id_col, F.col(vec_col).alias("__cv"), "bucket")
    scored = (
        c.join(F.broadcast(q), "bucket")
        .withColumn("__dot", _dot("__cv", "__qv"))
        .withColumn("__na", _norm_col("__cv"))
        .withColumn("__nb", _norm_col("__qv"))
        .withColumn("cosine",
                    F.when((F.col("__na") > 0) & (F.col("__nb") > 0),
                           F.col("__dot") / (F.col("__na") * F.col("__nb")))
                    .otherwise(F.lit(0.0)))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _train_vectors(corpus: DataFrame, vec_col: str, id_col: str,
                   n: int) -> np.ndarray:
    """Deterministic, partition-unbiased training sample: order the corpus
    by a hash of its id and take the first ``n``. ``limit(n)`` alone takes
    rows from whichever partitions answer first — at 100 TB that is the
    first few files of the scan, so centroids would reflect one corner of
    the corpus. orderBy+limit compiles to TakeOrderedAndProject (per-
    partition top-n, driver merge) so the collect stays bounded at n rows
    while the sample is drawn uniformly across every partition."""
    rows = (
        corpus.select(F.col(vec_col).alias("__v"),
                      F.xxhash64(F.col(id_col).cast("string")).alias("__h"))
        .orderBy("__h")
        .limit(n)
        .collect()
    )
    return np.stack([r["__v"] for r in rows])


def ivf_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 10,
             n_centroids: int = 16, nprobe: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding", query_id_col: str = "query_id",
             seed: int = 42, train_sample: int = 4096) -> DataFrame:
    """IVF: centroids from a deterministic corpus sample (one k-means step),
    corpus rows assigned to nearest centroid, queries probe nprobe lists."""
    sample = _train_vectors(corpus, vec_col, id_col, train_sample)
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(sample), size=min(n_centroids, len(sample)), replace=False)
    cent = sample[idx]
    # one Lloyd refinement on the sample for stability
    d = sample @ cent.T
    assign = d.argmax(axis=1)
    for ci in range(len(cent)):
        m = assign == ci
        if m.any():
            cent[ci] = sample[m].mean(axis=0)
    cent = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)

    def assigner(n_lists: int):
        @F.pandas_udf(LongType())
        def nearest(vecs: pd.Series) -> pd.Series:
            settle_worker_imports()
            m = np.stack(vecs.to_numpy())
            nm = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            return pd.Series((nm @ cent.T).argmax(axis=1).astype(np.int64))
        return nearest

    @F.pandas_udf("array<long>")
    def probe_lists(vecs: pd.Series) -> pd.Series:
        settle_worker_imports()
        m = np.stack(vecs.to_numpy())
        nm = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = nm @ cent.T
        order = np.argsort(-sims, axis=1)[:, :nprobe]
        return pd.Series([row.astype(np.int64).tolist() for row in order])

    c = corpus.withColumn("list_id", assigner(len(cent))(F.col(vec_col))) \
              .select(id_col, F.col(vec_col).alias("__cv"), "list_id")
    q = queries.withColumn("list_id", F.explode(probe_lists(F.col(vec_col)))) \
               .select(query_id_col, F.col(vec_col).alias("__qv"), "list_id")
    scored = (
        c.join(F.broadcast(q), "list_id")
        .withColumn("__dot", _dot("__cv", "__qv"))
        .withColumn("__na", _norm_col("__cv"))
        .withColumn("__nb", _norm_col("__qv"))
        .withColumn("cosine",
                    F.when((F.col("__na") > 0) & (F.col("__nb") > 0),
                           F.col("__dot") / (F.col("__na") * F.col("__nb")))
                    .otherwise(F.lit(0.0)))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )
