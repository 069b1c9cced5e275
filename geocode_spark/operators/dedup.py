"""Deduplication operators for web-scale training-data pipelines.

Beyond the reference's scope (its only dedup is drop_duplicates on cache
keys, cpo.py:187-189); these are the first-class corpus-dedup primitives a
100 TB text pipeline needs. All deterministic (seeded hash families), all
shuffle-minimal:

* exact_dedup          — hash-groupBy on a content fingerprint (one shuffle)
* minhash_signatures   — shingle -> minhash inside a pandas UDF (no shuffle)
* minhash_dedup_pairs  — banded MinHash-LSH: one shuffle on band-hash, each
                         bucket's pairs generated and verified in one pass
* dup_clusters         — connected components over duplicate pairs
* simhash              — 64-bit simhash of token multiset (no shuffle)
* ngram_jaccard_pairs  — exact verification of candidate pairs
* embedding_cosine_pairs — near-dup via cosine over an embedding column

Determinism note: hash family is xxhash-free — pure numpy multiply-shift
(splitmix-style) so results are identical on any cluster with no deps.
"""

from __future__ import annotations

import threading
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StructField,
                               StructType)

from ..functions.udfs import settle_worker_imports

_MERSENNE = (1 << 61) - 1


def _hash_family(n: int, seed: int = 42):
    """n multiply-shift hash functions (odd multiplier a, offset b) over
    Z/2^64 — modulo-free, wraps via uint64 overflow. Duplicated shingles
    cannot change a min, so no dedup pass is needed either."""
    rng = np.random.default_rng(seed)
    a = (rng.integers(0, 2**63, size=n, dtype=np.int64).astype(np.uint64)
         << np.uint64(1)) | np.uint64(1)  # force odd
    b = rng.integers(0, 2**63, size=n, dtype=np.int64).astype(np.uint64)
    return a, b


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Rolling 64-bit hashes of the k-character shingles of text.

    Texts shorter than one shingle hash as a single whole-text shingle —
    identical short texts still collide (and dedup), but distinct short
    texts get distinct signatures instead of one global constant bucket."""
    b = np.frombuffer((text or "").encode("utf-8", "ignore"), dtype=np.uint8)
    if len(b) < k:
        P = np.uint64(1099511628211)
        h = np.uint64(0xCBF29CE484222325)
        for byte in b:
            h = (h ^ np.uint64(byte)) * P
        return np.asarray([h], dtype=np.uint64)
    # polynomial rolling hash over a sliding window, fully vectorized:
    # h[i] = sum_{j<k} b[i+j] * P^(k-1-j)  (mod 2^64)
    P = np.uint64(1099511628211)  # FNV prime
    acc = np.zeros(len(b) - k + 1, dtype=np.uint64)
    for j in range(k):
        acc = acc * P + b[j:len(b) - k + 1 + j].astype(np.uint64)
    return acc


def _drop_hot_buckets(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Stop-bucket skew guard shared by every LSH-style blocker
    (minhash bands, simhash chunks, inverted-index grams): rows whose
    bucket (grouped on ``keys``) exceeds ``cap`` are dropped BEFORE the
    self-join, because pair blowup per bucket is quadratic. The standard
    trade: pairs in dropped buckets are recovered only through their other
    blocking keys (the recall consequences are documented per call
    site)."""
    sizes = (df.groupBy(*keys).agg(F.count("*").alias("__bn"))
             .filter(F.col("__bn") <= cap).drop("__bn"))
    return df.join(sizes, keys)


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per byte-identical text. The window
    partitions on sha2-256 of the text: collision-proof exactness (a 64-bit
    key WOULD birthday-collide at 10^12 docs and silently drop documents)
    without shuffling the full text bytes as part of the sort key."""
    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(F.col(id_col))
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1).drop("__rn"))


def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(fingerprint, n_docs, min_id) for every duplicated text group.
    Fingerprint = sha2-256 hex of the text: exact grouping at any corpus
    size with a fixed-width shuffle key (the text itself never widens the
    exchange)."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("fingerprint"))
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("min_id"))
        .filter(F.col("n_docs") > 1)
    )


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 64,
                       shingle_k: int = 5, seed: int = 42) -> DataFrame:
    """Add a ``signature: array<long>`` MinHash column. Arrow-batched numpy;
    zero shuffle."""
    a, b = _hash_family(num_hashes, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        settle_worker_imports()
        # Round-6 note: a chunk-batched minimum.reduceat variant (one big
        # multiply + segmented min across docs) was implemented,
        # bit-verified and REJECTED on measurement: 1.05 s vs 0.70 s for
        # this per-doc loop at bench scale (short docs make the per-doc
        # outer product small enough that batching overhead dominates).
        out = []
        for t in texts:
            sh = _shingle_hashes(t or "", shingle_k)
            # min over shingles of (a*x+b mod 2^64), per hash function
            vals = a[None, :] * sh[:, None] + b[None, :]
            out.append(vals.min(axis=0).astype(np.int64).tolist())
        return pd.Series(out)

    return df.withColumn("signature", sig(F.col(text_col)))


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", threshold: float = 0.7,
                        num_hashes: int = 64, shingle_k: int = 5,
                        bands: int = 16, rows_per_band: int = 4,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Full MinHash-LSH near-dup: signatures -> banded buckets -> candidate
    pairs -> signature-estimated Jaccard filter.

    Signatures are persisted: they feed the hot-bucket pre-job (only when
    ``max_bucket_size`` is set) and the one bucket walk, so the shingle
    UDF, the only Python-side cost in the plan, runs once.

    Cache lifecycle: persisted signature sets live in a BOUNDED FIFO
    (newest ``_SIG_CACHE_SIZE``); admitting a new set unpersists the
    oldest, so a long-lived session calling this repeatedly holds at most
    that many signature blocks — never an unbounded leak. The FIFO (not a
    result-handle finalizer) is deliberate: callers routinely CHAIN
    transformations off the lazy result and drop the returned object
    before any action runs, which would otherwise unpersist the cache
    before it was ever used. An evicted-but-still-lazy plan just
    recomputes (slower, correct). ``clear_signature_cache()`` drops
    everything eagerly (benchmarks use it to measure cold runs).

    Plan: signatures ride the band explode into ONE hash shuffle on
    ``(band, band_hash)``; a sorted-partition Arrow pass then generates
    each bucket's pairs AND verifies their signature-estimated Jaccard in
    numpy in the same breath, and only PASSING pairs flow into the final
    distinct. Verification is the integer match count / num_hashes in
    float64. A bucket larger than ``max_bucket_size`` contributes nothing;
    pairs are id_a < id_b within a bucket. Each signature is shuffled
    exactly ``bands`` times and nothing depends on broadcasting the
    signature table — the standard distributed MinHash-LSH layout.

    The bucket walk is ``mapInArrow`` (guide §4.2): the signature and
    band-hash list columns are reshaped straight off the Arrow values
    buffers into (n, num_hashes)/(n, bands) numpy matrices and ids stay
    Arrow arrays end to end (pairs gathered with ``pyarrow.compute.take``)
    — no per-row object materialization anywhere in the pass. The
    measurements behind this plan are in OPTIMIZATION_r06.md §2 and §2a."""
    if bands * rows_per_band > num_hashes:
        raise ValueError(
            f"bands({bands}) * rows_per_band({rows_per_band}) exceeds the "
            f"signature length {num_hashes}: out-of-range bands hash every "
            "document into one bucket")
    sigs = minhash_signatures(df.select(id_col, text_col), text_col, id_col,
                              num_hashes, shingle_k).select(id_col, "signature")
    sigs = sigs.persist()
    evicted = []
    with _SIG_LOCK:
        _SIG_CACHE.append(sigs)
        while len(_SIG_CACHE) > _SIG_CACHE_SIZE:
            evicted.append(_SIG_CACHE.pop(0))
    for e in evicted:
        _unpersist_quietly(e)

    hash_arr = F.array(*[
        F.xxhash64(F.lit(i), F.slice("signature", i * rows_per_band + 1,
                                     rows_per_band))
        for i in range(bands)
    ])
    banded = (sigs.withColumn("__bh", hash_arr)
              .select(F.col(id_col), F.col("signature"), F.col("__bh"),
                      F.posexplode("__bh").alias("band", "band_hash")))
    # Duplicate-suppression needs the (rare) HOT buckets up front: a pair
    # is emitted only from its FIRST band whose slices are fully equal AND
    # whose bucket survives the cap — without the hot set, a pair whose
    # first matching bucket was capped away would be suppressed everywhere
    # (a recall change vs the old plan). The hot set is tiny by
    # construction (buckets > cap) and collected once.
    if max_bucket_size is not None:
        hot_rows = (banded.groupBy("band", "band_hash")
                    .agg(F.count("*").alias("__n"))
                    .filter(F.col("__n") > max_bucket_size)
                    .select("band", "band_hash").collect())
    else:
        hot_rows = []
    hot_by_band = {}
    for r in hot_rows:
        hot_by_band.setdefault(int(r[0]), []).append(r[1])
    hot_by_band = {j: np.sort(np.asarray(v, dtype=np.int64))
                   for j, v in hot_by_band.items()}

    part = (banded.repartition("band", "band_hash")
            .sortWithinPartitions("band", "band_hash", id_col))

    id_type = df.schema[id_col].dataType
    out_schema = StructType([StructField("id_a", id_type),
                             StructField("id_b", id_type),
                             StructField("jaccard_est", DoubleType())])
    nh = float(num_hashes)
    cap = max_bucket_size
    thr = threshold
    n_bands, rpb = bands, rows_per_band

    def bucket_pairs(batches):
        settle_worker_imports()
        triu_cache: dict = {}
        carry = None  # (ids, S, H, band, hash) of the last (open) bucket

        def emit(ids_pa, S, H, bands_a, hashes_a):
            """Pairs+verification for every bucket in the given rows, which
            are sorted by (band, hash, id) and contain COMPLETE buckets."""
            n = len(ids_pa)
            if n == 0:
                return None
            change = np.empty(n, dtype=bool)
            change[0] = True
            change[1:] = (bands_a[1:] != bands_a[:-1]) | \
                (hashes_a[1:] != hashes_a[:-1])
            starts = np.flatnonzero(change)
            sizes = np.diff(np.append(starts, n))
            IA, IB = [], []
            for s, sz in zip(starts.tolist(), sizes.tolist()):
                if sz < 2 or (cap is not None and sz > cap):
                    continue
                tri = triu_cache.get(sz)
                if tri is None:
                    tri = np.triu_indices(sz, 1)
                    triu_cache[sz] = tri
                IA.append(tri[0] + s)
                IB.append(tri[1] + s)
            if not IA:
                return None
            ia = np.concatenate(IA)
            ib = np.concatenate(IB)
            eq = S[ia] == S[ib]
            est = eq.sum(axis=1) / nh
            m = est >= thr
            if m.any():
                # emit each pair only from its first fully-slice-equal
                # band whose bucket was kept: slice equality implies the
                # same bucket in that band, so exactly one band emits each
                # such pair (hash-collision-only matches — no fully equal
                # kept band — emit wherever they collide; the trailing
                # distinct sweeps those rare duplicates)
                bf = eq[:, :n_bands * rpb] \
                    .reshape(len(ia), n_bands, rpb).all(axis=2)
                if hot_by_band:
                    hot = np.zeros((n, n_bands), dtype=bool)
                    for j, hs in hot_by_band.items():
                        hot[:, j] = np.isin(H[:, j], hs)
                    bf &= ~hot[ia]
                lower = np.arange(n_bands)[None, :] < \
                    bands_a[ia].astype(np.int64)[:, None]
                m &= ~(bf & lower).any(axis=1)
            if not m.any():
                return None
            return pa.RecordBatch.from_arrays(
                [pc.take(ids_pa, pa.array(ia[m])),
                 pc.take(ids_pa, pa.array(ib[m])),
                 pa.array(est[m])],
                names=["id_a", "id_b", "jaccard_est"])

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            cols = rb.schema.names
            ids_pa = rb.column(cols.index(id_col))
            sig_pa = rb.column(cols.index("signature"))
            bh_pa = rb.column(cols.index("__bh"))
            # flatten() drops null lists, so one would misalign the reshape
            for name, arr in (("signature", sig_pa), ("__bh", bh_pa)):
                if arr.null_count:
                    raise ValueError(
                        f"minhash_dedup_pairs: {arr.null_count} null "
                        f"'{name}' list(s) reached the bucket walk")
            # fixed-length list columns: the Arrow values buffer reshaped,
            # no per-row objects (flatten honors the array's offset)
            S = np.asarray(sig_pa.flatten()).reshape(n, -1)
            H = np.asarray(bh_pa.flatten()).reshape(n, -1)
            bands_a = np.asarray(rb.column(cols.index("band")))
            hashes_a = np.asarray(rb.column(cols.index("band_hash")))
            if carry is not None:
                ids_pa = pa.concat_arrays([carry[0], ids_pa])
                S = np.concatenate([carry[1], S])
                H = np.concatenate([carry[2], H])
                bands_a = np.concatenate([carry[3], bands_a])
                hashes_a = np.concatenate([carry[4], hashes_a])
            # hold back the trailing bucket — it may continue next batch
            last = np.flatnonzero((bands_a != bands_a[-1])
                                  | (hashes_a != hashes_a[-1]))
            cut = int(last[-1]) + 1 if len(last) else 0
            carry = (ids_pa.slice(cut), S[cut:], H[cut:],
                     bands_a[cut:], hashes_a[cut:])
            if cut:
                out = emit(ids_pa.slice(0, cut), S[:cut], H[:cut],
                           bands_a[:cut], hashes_a[:cut])
                if out is not None:
                    yield out
        if carry is not None and len(carry[0]):
            out = emit(*carry)
            if out is not None:
                yield out

    return part.mapInArrow(bucket_pairs, out_schema).distinct()


# bounded signature-cache FIFO (see minhash_dedup_pairs docstring);
# mutations locked — drivers may submit jobs from several threads
_SIG_CACHE: list[DataFrame] = []
_SIG_CACHE_SIZE = 2
_SIG_LOCK = threading.Lock()


def _unpersist_quietly(cached: DataFrame) -> None:
    """Blocking so a test (or a tight benchmark loop) observes the blocks
    gone immediately; swallows errors because the session may already be
    stopped."""
    try:
        cached.unpersist(blocking=True)
    except Exception:
        pass


def clear_signature_cache() -> None:
    """Eagerly unpersist every cached minhash signature set. Benchmarks
    call this between repeats to measure COLD runs (Spark's cache manager
    matches canonicalized plans, so without it a repeat of the identical
    call would silently reuse the previous repeat's blocks)."""
    with _SIG_LOCK:
        drained, _SIG_CACHE[:] = _SIG_CACHE[:], []
    for e in drained:
        _unpersist_quietly(e)


# simhash token-hash definition (fully specified so an independent SQL
# engine can transcribe it for oracle checks):
#   tokenize:  lower(text) split on [ \t\n\r\f]+ (explicit class — Java
#              regex, Python re and RE2 all agree on it, unlike \s whose
#              \x0B membership differs between engines), empties dropped,
#              duplicates KEPT (multiset simhash);
#   per token: FNV-1a 64 over the token's unicode CODEPOINTS
#              (h = offset; h = (h ^ cp) * prime mod 2^64), then the
#              splitmix64 finalizer (Steele/Lea/Flood 2014 public-domain
#              constants) for avalanche — FNV alone biases high bits.
_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(1099511628211)
_SM_C1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_C2 = np.uint64(0x94D049BB133111EB)
_TOKEN_SPLIT = "[ \t\n\r\f]+"


def _token_hashes(toks: list[str]) -> np.ndarray:
    """Vectorized FNV-1a-64 + splitmix64 over a token list: tokens padded
    into a codepoint matrix, the FNV fold runs max_len times across a
    GROUP of similar-length tokens at once (uint64 wrap-around is the
    mod-2^64 arithmetic).

    Grouping matters: padding ALL tokens to the global max length is
    O(n_tokens x max_token_len) memory — one 200k-char unbroken token
    (minified JS, a base64 blob, a long URL: routine in web corpora)
    alongside 50k normal tokens would allocate an ~80 GB matrix and OOM
    the executor. Tokens are hashed in length-sorted groups bounded by a
    fixed element budget (~128 MB), so a pathological token inflates only
    its own group."""
    n = len(toks)
    lens = np.asarray([len(t) for t in toks])
    order = np.argsort(lens, kind="stable")
    out = np.zeros(n, dtype=np.uint64)
    budget = 1 << 24  # matrix elements per group (uint64 -> 128 MB)
    g0 = 0
    while g0 < n:
        g1 = g0 + 1
        while g1 < n and (g1 + 1 - g0) * int(lens[order[g1]]) <= budget:
            g1 += 1
        idx = order[g0:g1]
        glens = lens[idx]
        mat = np.zeros((len(idx), int(glens.max())), dtype=np.uint64)
        for row, i in enumerate(idx):
            t = toks[i]
            mat[row, :len(t)] = np.frombuffer(
                t.encode("utf-32-le"), dtype=np.uint32)
        h = np.full(len(idx), _FNV_OFFSET, dtype=np.uint64)
        for j in range(mat.shape[1]):
            active = j < glens
            h[active] = (h[active] ^ mat[active, j]) * _FNV_PRIME
        out[idx] = h
        g0 = g1
    h = out
    h ^= h >> np.uint64(30)
    h *= _SM_C1
    h ^= h >> np.uint64(27)
    h *= _SM_C2
    h ^= h >> np.uint64(31)
    return h


def simhash(df: DataFrame, text_col: str = "text", seed: int = 42) -> DataFrame:
    """Add a 64-bit ``simhash`` column (token-multiset simhash). The token
    hash is the fully-specified FNV-1a+splitmix64 above — deterministic on
    any cluster AND reproducible by the DuckDB oracle, which transcribes
    the same arithmetic (hugeint mod-2^64) to hash-verify near-pair output
    end to end."""

    weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))
    import re as _re

    splitter = _re.compile(_TOKEN_SPLIT)

    @F.pandas_udf(LongType())
    def sh(texts: pd.Series) -> pd.Series:
        settle_worker_imports()
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            toks = [w for w in splitter.split((t or "").lower()) if w]
            if not toks:
                continue
            hs = _token_hashes(toks)
            bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                    & np.uint64(1)).astype(np.int64)
            v = (bits * 2 - 1).sum(axis=0)
            out[i] = ((v > 0) * weights).sum(dtype=np.uint64).astype(np.int64)
        return pd.Series(out)

    return df.withColumn("simhash", sh(F.col(text_col)))


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       max_hamming: int = 3,
                       max_bucket_size: int | None = None) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance, blocked on 16-bit chunks
    (pigeonhole: distance<=3 pairs share at least one of 4 chunks).

    ``max_bucket_size`` is the ``_drop_hot_buckets`` skew guard:
    (chunk_pos, chunk) buckets larger than the cap
    are dropped BEFORE the self-join, because pair blowup per bucket is
    quadratic — a boilerplate-heavy web corpus concentrates near-identical
    simhashes, and at 10^12 docs an average 16-bit bucket would hold
    millions of rows. Recall trade when the cap binds: a qualifying pair
    whose shared chunk lives in a dropped bucket is recovered only through
    its other (up to 3) matching chunks if THOSE buckets are under the cap —
    conservative, identical in kind to the LSH stop-bucket trade."""
    with_chunks = df.select(
        id_col, "simhash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned("simhash", i * 16).bitwiseAND(F.lit(0xFFFF))
            for i in range(4)
        ])).alias("chunk_pos", "chunk"),
    )
    if max_bucket_size is not None:
        with_chunks = _drop_hot_buckets(with_chunks, ["chunk_pos", "chunk"],
                                        max_bucket_size)
    l = with_chunks.alias("l")
    r = with_chunks.alias("r")
    cand = (
        l.join(r, (F.col("l.chunk_pos") == F.col("r.chunk_pos"))
               & (F.col("l.chunk") == F.col("r.chunk"))
               & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"),
                F.col("l.simhash").alias("sh_a"),
                F.col("r.simhash").alias("sh_b"))
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact word-n-gram Jaccard for given candidate pairs (verification
    stage after LSH). Set algebra in Catalyst: array_intersect/array_union."""
    toks = df.select(F.col(id_col),
                     F.split(F.lower(F.col(text_col)), r"[ \t\n\r\f]+").alias("__toks"))
    grams = toks.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(
                F.filter(
                    F.transform(F.col("__toks"),
                                lambda w, i: F.slice(F.col("__toks"), i + 1, n)),
                    lambda arr: F.size(arr) == n),
                lambda arr: F.array_join(arr, " "))
        ).alias("grams"),
    )
    ga = grams.select(F.col(id_col).alias("id_a"), F.col("grams").alias("g_a"))
    gb = grams.select(F.col(id_col).alias("id_b"), F.col("grams").alias("g_b"))
    return (
        pairs.join(ga, "id_a").join(gb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("g_a", "g_b")))
        .withColumn("uni", F.size(F.array_union("g_a", "g_b")))
        .withColumn("jaccard", F.when(F.col("uni") > 0,
                                      F.col("inter") / F.col("uni")).otherwise(0.0))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_tokens(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 n: int = 3) -> DataFrame:
    """(id, gram) distinct word-n-grams per document (Catalyst-only)."""
    toks = df.select(F.col(id_col),
                     F.split(F.lower(F.col(text_col)), r"[ \t\n\r\f]+").alias("__toks"))
    return toks.select(
        F.col(id_col),
        F.explode(F.array_distinct(
            F.transform(
                F.filter(
                    F.transform(F.col("__toks"),
                                lambda w, i: F.slice(F.col("__toks"), i + 1, n)),
                    lambda arr: F.size(arr) == n),
                lambda arr: F.array_join(arr, " "))
        )).alias("gram"),
    )


def ngram_jaccard_all_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 3,
                            threshold: float = 0.5,
                            max_gram_df: int | None = 10_000) -> DataFrame:
    """Exact all-pairs word-n-gram Jaccard via an inverted-index self-join:
    explode distinct grams, join on gram (pairs share >=1 gram — everything
    else has jaccard 0), count intersections, divide by union sizes.

    The gram join is the classic set-similarity plan: shuffle key = gram,
    pair blowup quadratic in each gram's document frequency. ``max_gram_df``
    is the stop-gram guard: grams appearing in more than that many documents
    are dropped from the JOIN side. One boilerplate trigram in a web corpus
    would otherwise make the join O(n^2). When the cap binds, shared
    stop-grams no longer count toward the intersection (union sizes keep
    every gram), so similarity is UNDERstated for affected pairs and pairs
    sharing only stop-grams are missed — conservative in the same way as
    LSH's ``max_bucket_size``. ``None`` disables the cap (exact baseline);
    the default is a no-op until a gram hits 10k docs."""
    grams = ngram_tokens(df, text_col, id_col, n)
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("__n"))
    if max_gram_df is not None:
        grams = _drop_hot_buckets(grams, ["gram"], max_gram_df)
    l = grams.select(F.col(id_col).alias("id_a"), "gram")
    r = grams.select(F.col(id_col).alias("id_b"), "gram")
    inter = (
        l.join(r, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard",
                    F.col("__inter")
                    / (F.col("__na") + F.col("__nb") - F.col("__inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _min_labels(a: np.ndarray, b: np.ndarray, n: int):
    """Components of the graph over nodes ``0..n-1`` with edges
    ``(a[i], b[i])``: ``(lab, rounds)``, ``lab[v]`` the smallest node of
    ``v``'s component.

    Each round hooks, for every edge whose endpoints carry different
    labels, the larger of the two labels onto the smaller
    (``np.minimum.at``, both directions), then pointer-jumps
    (``lab = lab[lab]``) until the labels stop changing, so every node
    again points at a node that points at itself (a root).

    Invariants: ``lab[v] <= v`` and ``lab[v]`` lies in ``v``'s component.
    Labels never increase, so a node that stops being a root never becomes
    one again. A round that does not terminate has an edge between two
    different roots and lowers the larger root's label: it removes at least
    one root. Hence the loop ends after at most ``n - c`` rounds for ``c``
    components, with no edge left between different labels: each component
    carries one label, a node of that component that is its own label,
    which is its smallest node (the smallest node ``m`` has ``lab[m] <= m``
    and ``lab[m]`` in its component). No tighter bound is claimed; the
    tests pin a round ceiling on a shuffled path."""
    lab = np.arange(n, dtype=np.int64)
    rounds = 0
    while True:
        la, lb = lab[a], lab[b]
        cross = la != lb
        if not cross.any():
            return lab, rounds
        rounds += 1
        la, lb = la[cross], lb[cross]
        np.minimum.at(lab, la, lb)
        np.minimum.at(lab, lb, la)
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt


def _components(src: pa.Array, dst: pa.Array):
    """Components of the graph given as ``(src[i], dst[i])`` edges:
    ``(nodes, labels)``, every node an edge touches and the min id of its
    component, both Arrow arrays of the input id type.

    Ids get dense ranks that keep their order (``pc.rank``), so string and
    bigint ids take one path and the min rank is the min id;
    :func:`_min_labels` labels the ranks, and both outputs are ``take``s
    from the input ids, so no id passes through pandas or float64."""
    ids = pa.concat_arrays([src, dst])
    r = np.asarray(pc.rank(ids, tiebreaker="dense"), np.int64) - 1
    n = int(r.max()) + 1 if len(r) else 0
    first = np.empty(n, np.int64)
    first[r] = np.arange(len(r))   # any position of a rank holds its id
    lab, _ = _min_labels(r[:len(src)], r[len(src):], n)
    return ids.take(first), ids.take(first[lab])


def _local_contract(edges: DataFrame, id_type) -> DataFrame:
    """Partition-local contraction: for every node appearing in a
    partition's ``(src, dst)`` edges, emit ``(src=node, label=min id of the
    node's PARTITION-LOCAL component)`` (:func:`_components` over all of
    the partition's edges at once).

    The emitted rows preserve global connectivity exactly: every original
    edge (a, b) in partition p collapses to (a, l_p) and (b, l_p) through
    the shared local root l_p, and a node seen in several partitions links
    its per-partition roots. Labels are ids of real nodes, and the global
    min id of a component is always one of the local roots (its own
    partition can only label it with itself)."""
    schema = StructType([StructField("src", id_type),
                         StructField("label", id_type)])

    def contract(batches: Iterator[pa.RecordBatch]):
        settle_worker_imports()
        parts = [rb for rb in batches if rb.num_rows]
        if parts:
            t = pa.Table.from_batches(parts)
            nodes, labels = _components(t.column("src").combine_chunks(),
                                        t.column("dst").combine_chunks())
            yield pa.RecordBatch.from_arrays([nodes, labels],
                                             names=["src", "label"])

    return edges.mapInArrow(contract, schema)


def _propagate_loop(nodes_ids: DataFrame, pairs: DataFrame,
                    max_iters: int) -> DataFrame:
    """Distributed min-label propagation with a pointer-doubling shortcut:
    ``dup_clusters``' fallback for graphs whose contracted residue is too
    big for the driver.

    ``nodes_ids`` has one column ``src``; ``pairs`` has ``src``/``dst``
    (asymmetric — symmetrized here). Returns ``(src, label)``.

    label'(v) = min(label(v), min_u label(u), label(label(v))) — the last
    term jumps each node to its current representative's representative, so
    long chains converge in O(log diameter) rounds instead of O(diameter)
    (the large-star/small-star idea). Each round is one aggregation and two
    joins, then one changed-count action; a round that changes nothing is
    the fixpoint. Raises ``RuntimeError`` when labels still change after
    ``max_iters`` rounds plus one verifying round.

    Each round's labels are ``localCheckpoint``-ed: persist() alone keeps
    the LOGICAL plan growing (round k re-analyzes k rounds of joins —
    measured super-linear: 1 s/round -> 33 s/round by round 5 at 40k
    nodes), while a checkpoint truncates the plan so every round costs the
    same. On a real cluster localCheckpoint trades fault-tolerance for
    speed — the right trade for a minutes-long O(log d)-round loop."""

    def _round(cur):
        """One propagation round: cur(src, label) -> (new labels, number
        of labels that changed)."""
        # pointer doubling WITHOUT its own join: the label-edge
        # (src=label(v), dst=v) makes v receive label(label(v)) through
        # the same neighbor aggregation that delivers real-neighbor
        # labels — one groupBy + two joins per round instead of four
        edges = sym.unionByName(cur.select(F.col("label").alias("src"),
                                           F.col("src").alias("dst")))
        nbr = (edges.join(cur, "src")
               .groupBy(F.col("dst").alias("src"))
               .agg(F.min("label").alias("nbr_label")))
        new = (cur.withColumnRenamed("label", "prev")
               .join(nbr, "src", "left")
               .select("src",
                       F.least(F.col("prev"),
                               F.coalesce("nbr_label", "prev"))
                       .alias("label"),
                       "prev")).localCheckpoint(eager=False)
        n = new.filter(F.col("label") != F.col("prev")).count()
        return new.select("src", "label"), n

    # edges materialized once, hash-partitioned on src: every round's
    # propagate join reuses this partitioning (checkpoint preserves
    # outputPartitioning) instead of re-shuffling the 2x|pairs| edge
    # table per round.
    sym = (pairs.unionByName(pairs.select(F.col("dst").alias("src"),
                                          F.col("src").alias("dst")))
           .repartition("src").localCheckpoint(eager=True))
    labels = nodes_ids.select("src", F.col("src").alias("label")) \
        .repartition("src").localCheckpoint(eager=True)
    for _ in range(max_iters):
        labels, changed = _round(labels)
        if changed == 0:
            return labels
    # the LAST allowed round may itself have reached the fixpoint — verify
    # with one extra round, and KEEP that round's labels
    labels, changed = _round(labels)
    if changed != 0:
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iters} rounds "
            f"({changed} labels still changing): some clusters are split "
            "— raise max_iters")
    return labels


# residue edges the driver labels itself (phase 3 of dup_clusters); a
# larger residue runs the distributed fallback loop
_DRIVER_MAX_EDGES = 2_000_000


def dup_clusters(nodes: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                 max_iters: int = 20) -> DataFrame:
    """Connected components over duplicate pairs: every node gets
    ``cluster_id`` = min id reachable through pair edges (its own id when
    unpaired). The representative-per-cluster is then ``id == cluster_id``.
    Pairs with an endpoint absent from ``nodes`` (or null) are ignored.

    Two-phase plan — local contraction, then a small remainder finished
    in one place (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014):

    1. **Partition-local contraction** — edges are range-partitioned by
       ``src`` (duplicate-pair endpoints are id-correlated in practice, so
       ranges maximize the edges each task can resolve alone) and each
       task labels its own edges' components (``_local_contract``),
       emitting (node, local min root). One shuffle + one Arrow pass, no
       loop.
    2. **Contracted roots graph** — nodes' per-partition roots are reduced
       to a global candidate label (min) and the residual edges BETWEEN
       roots are materialized. This graph is typically orders of magnitude
       smaller than the input (for range-local components it holds only
       partition-boundary links).
    3. **Solve the residue** — if the contracted edge count is within
       ``_DRIVER_MAX_EDGES`` (a bounded ``limit(cap+1)`` probe collected
       as Arrow, never an unbounded collect), the driver labels it in one
       call. Larger residues fall back to the distributed pointer-doubling
       loop (``_propagate_loop``) on the CONTRACTED graph.

    Phases 1 and 3 run the same vectorized kernel, :func:`_components`:
    dense order-keeping ranks of the ids, then min-label hooking with full
    pointer jumping until no edge joins two labels. Labels never increase
    and each round that does not end removes at least one root, so it
    ends within (nodes - components) rounds (:func:`_min_labels`).

    ``max_iters`` bounds the fallback loop only, which raises
    ``RuntimeError`` if it does not converge; the driver finish is exact
    and always converges. No session config is changed."""
    spark = nodes.sparkSession
    id_type = nodes.schema[id_col].dataType

    # edges touching ids absent from ``nodes`` must not relay labels
    # (contraction would happily connect THROUGH them): broadcast-friendly
    # semi-joins, which also drop null endpoints
    ids_a = nodes.select(F.col(id_col).alias("id_a"))
    ids_b = nodes.select(F.col(id_col).alias("id_b"))
    edges = (pairs.select("id_a", "id_b")
             .join(ids_a, "id_a", "leftsemi")
             .join(ids_b, "id_b", "leftsemi")
             .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))

    # phase 1: one range shuffle + partition-local components. Ranges
    # (not hash) so id-correlated duplicate chains land whole in one
    # task. (The range sampling pass recomputes the edge pipeline once;
    # measured CHEAPER than materializing it with a checkpoint first.)
    M = _local_contract(edges.repartitionByRange(F.col("src")), id_type) \
        .localCheckpoint(eager=False)
    lab0 = M.groupBy("src").agg(F.min("label").alias("__lbl0"))

    # phase 2: residual links between local roots — (node min root, other
    # appearance root) for every node seen in >1 partition. NOT
    # deduplicated: the driver kernel dedupes for free and a distinct
    # here costs an extra exchange (the cap below therefore counts
    # appearance rows, a conservative over-estimate).
    resid = (M.join(lab0, "src")
             .filter(F.col("label") != F.col("__lbl0"))
             .select(F.col("__lbl0").alias("src"),
                     F.col("label").alias("dst")))

    # phase 3: bounded probe — driver finish when the residue is small
    # (the overwhelmingly common case), distributed loop otherwise.
    probe = resid.limit(_DRIVER_MAX_EDGES + 1).toArrow()
    if probe.num_rows <= _DRIVER_MAX_EDGES:
        found, cl = _components(probe.column("src").combine_chunks(),
                                probe.column("dst").combine_chunks())
        moved = pc.not_equal(found, cl)
        labels = lab0.select("src", F.col("__lbl0").alias("label"))
        if pc.any(moved).as_py():
            rdf = spark.createDataFrame(
                pa.table({"__lbl0": found.filter(moved),
                          "__cl": cl.filter(moved)}),
                StructType([StructField("__lbl0", id_type),
                            StructField("__cl", id_type)]))
            labels = (lab0.join(F.broadcast(rdf), "__lbl0", "left")
                      .select("src",
                              F.coalesce("__cl", "__lbl0").alias("label")))
    else:
        roots = (resid.select("src").unionByName(
            resid.select(F.col("dst").alias("src"))).distinct())
        rlab = _propagate_loop(roots, resid, max_iters)
        labels = (lab0.join(rlab.withColumnsRenamed(
                      {"src": "__lbl0", "label": "__cl"}), "__lbl0", "left")
                  .select("src",
                          F.coalesce("__cl", "__lbl0").alias("label")))

    return (nodes.select(F.col(id_col).alias("src"))
            .join(labels, "src", "left")
            .select(F.col("src").alias(id_col),
                    F.coalesce("label", "src").alias("cluster_id")))


def embedding_cosine_pairs(emb: DataFrame, id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           threshold: float = 0.95,
                           method: str = "auto",
                           max_exact_rows: int = 100_000,
                           dim: int | None = None,
                           bits: int = 12, seed: int = 42,
                           hamming_probes: int = 0) -> DataFrame:
    """Near-dup by embedding cosine similarity.

    ``method``:
      * ``"exact"``    — all-pairs self-join. Correct at any threshold but
        O(n^2): the verification baseline, NOT a 100 TB plan.
      * ``"bucketed"`` — the scale path: random-hyperplane LSH sketch
        (similarity.lsh_buckets), pairs join only within a bucket. Recall
        <1 for low thresholds (pairs split across buckets are missed);
        near-dup thresholds (>=0.9, small angles) collide with high
        probability per bit. Requires ``dim``. ``hamming_probes`` (0, 1
        or 2 — the lsh_topk multi-probe, reused) additionally matches
        pairs whose sketches differ in up to that many bits: one side of
        the self-join fans out to its flipped buckets, which lifts recall
        below ~0.95 thresholds at probe-side fanout cost only (the other
        side — and so the join's build volume — is untouched). Each
        qualifying pair still appears exactly once: only one side fans
        out, and its distinct probe buckets can match a fixed partner
        bucket at most once.
      * ``"auto"``     — exact while the corpus is provably small,
        bucketed beyond. The probe is BOUNDED: ``limit(max_exact_rows + 1)
        .count()`` — at web scale the scan short-circuits after the limit
        is hit instead of paying a full pass over the corpus just to pick a
        branch. Callers that know they are at scale should still pass
        ``method="bucketed"`` explicitly and skip even the bounded probe.
    """
    if hamming_probes not in (0, 1, 2):
        # validate up front for EVERY method: auto-exact silently ignoring
        # a bad value would surface the error only when the corpus grows
        # past max_exact_rows, i.e. mid-pipeline at scale
        raise ValueError("hamming_probes supports 0, 1 or 2")
    if method == "auto":
        probed = emb.limit(max_exact_rows + 1).count()
        method = "exact" if probed <= max_exact_rows else "bucketed"
    # Do NOT normalize the vectors with a transform lambda: putting the
    # norm aggregate inside (or aliasing it and letting CollapseProject
    # inline it back inside) re-evaluates the aggregate for every vector
    # ELEMENT — O(d^2) per row on a 768-dim embedding. Instead carry the
    # raw vector plus its norm as a COLUMN (one aggregate per row, the
    # similarity.brute_force_topk pattern) and divide the pair dot product
    # by the norm product. Cosine is scale-invariant, and so are the
    # random-hyperplane sign sketches (sign(H·x) = sign(H·x/|x|)), so the
    # bucketed path sketches the raw vectors unchanged.
    norm = emb.select(
        F.col(id_col),
        F.col(vec_col).alias("nv"),
        F.sqrt(F.aggregate(vec_col, F.lit(0.0),
                           lambda a, y: a + y * y)).alias("__n"),
    )
    cos = ("aggregate(zip_with(v_a, v_b, (x, y) -> x * y), 0D, "
           "(acc, v) -> acc + v)")
    if method == "exact":
        a = norm.select(F.col(id_col).alias("id_a"), F.col("nv").alias("v_a"),
                        F.col("__n").alias("n_a"))
        b = norm.select(F.col(id_col).alias("id_b"), F.col("nv").alias("v_b"),
                        F.col("__n").alias("n_b"))
        cond = F.col("id_a") < F.col("id_b")
    elif method == "bucketed":
        if dim is None:
            # infer from one NON-NULL row — the auto path must not crash
            # exactly at the scale it exists for
            first = emb.filter(F.col(vec_col).isNotNull()) \
                       .select(vec_col).first()
            if first is None:
                return norm.select(
                    F.col(id_col).alias("id_a"),
                    F.col(id_col).alias("id_b"),
                    F.lit(0.0).alias("cosine")).limit(0)
            dim = len(first[0])
        from .similarity import lsh_buckets

        # NULL embeddings can never clear a positive cosine threshold, and
        # the sketch UDF's np.stack would raise on a None vector — drop
        # them BEFORE bucketing (the exact path tolerates them because the
        # cosine expression just evaluates to NULL and the filter drops it)
        sk = lsh_buckets(norm.filter(F.col("nv").isNotNull()),
                         dim=dim, bits=bits, vec_col="nv", seed=seed,
                         out_col="__bkt")
        a_src = sk
        if hamming_probes and bits:
            flips = [F.col("__bkt")] + [
                F.col("__bkt").bitwiseXOR(F.lit(1 << i))
                for i in range(bits)]
            if hamming_probes == 2:
                flips += [
                    F.col("__bkt").bitwiseXOR(F.lit((1 << i) | (1 << j)))
                    for i in range(bits) for j in range(i + 1, bits)]
            a_src = sk.withColumn("__bkt", F.explode(F.array(*flips)))
        a = a_src.select(F.col(id_col).alias("id_a"),
                         F.col("nv").alias("v_a"),
                         F.col("__n").alias("n_a"),
                         F.col("__bkt").alias("b_a"))
        b = sk.select(F.col(id_col).alias("id_b"), F.col("nv").alias("v_b"),
                      F.col("__n").alias("n_b"), F.col("__bkt").alias("b_b"))
        cond = (F.col("b_a") == F.col("b_b")) & (F.col("id_a") < F.col("id_b"))
    else:
        raise ValueError(f"unknown method {method!r}")
    return (
        a.join(b, cond)
        .withColumn("cosine",
                    F.when((F.col("n_a") > 0) & (F.col("n_b") > 0),
                           F.expr(cos) / (F.col("n_a") * F.col("n_b"))))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
