"""Tests for dedup / text-analysis / similarity / multimodal / pipeline /
lineage operators."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from geocode_spark.operators.dedup import (embedding_cosine_pairs,
                                           exact_dedup, exact_dup_groups,
                                           minhash_dedup_pairs,
                                           minhash_signatures,
                                           ngram_jaccard_all_pairs, simhash,
                                           simhash_near_pairs)
from geocode_spark.operators.multimodal import (extract_features,
                                                frame_sample, with_media_meta)
from geocode_spark.operators.pipeline import (extract_postcode_mentions,
                                              geocode_documents)
from geocode_spark.operators.similarity import (brute_force_topk, lsh_topk)
from geocode_spark.operators.text import text_profile


@pytest.fixture(scope="module")
def pages(spark, fixture_dir):
    return spark.read.parquet(str(fixture_dir / "pages.parquet")).cache()


class TestDedup:
    def test_exact_dedup_removes_injected_dups(self, spark, pages):
        total = pages.count()
        kept = exact_dedup(pages, text_col="text", id_col="url").count()
        dup_groups = exact_dup_groups(pages, text_col="text", id_col="url")
        n_dups = dup_groups.agg(F.sum(F.col("n_docs") - 1)).collect()[0][0]
        assert kept == total - n_dups
        assert n_dups == 50  # fixtures inject one mirror per 40 pages

    def test_minhash_finds_exact_dups(self, spark, pages):
        pairs = minhash_dedup_pairs(pages, text_col="text", id_col="url",
                                    threshold=0.99)
        got = {tuple(sorted((r.id_a, r.id_b))) for r in pairs.collect()}
        # every injected mirror pair must be found (jaccard 1.0 -> est 1.0)
        assert len(got) >= 50
        ests = [r.jaccard_est for r in pairs.collect()]
        assert all(e >= 0.99 for e in ests)

    def test_minhash_estimates_jaccard(self, spark):
        # two docs with controlled overlap: est jaccard within +-0.2 of exact
        a = " ".join(f"tok{i}" for i in range(100))
        b = " ".join(f"tok{i}" for i in range(50, 150))
        df = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
        sigs = minhash_signatures(df, num_hashes=128)
        s0, s1 = [np.array(r.signature) for r in
                  sigs.orderBy("doc_id").collect()]
        est = (s0 == s1).mean()
        # character-shingle jaccard of these texts is ~0.33
        assert 0.1 < est < 0.6

    def test_simhash_hamming_near_zero_for_dups(self, spark, pages):
        pairs = simhash_near_pairs(simhash(pages), id_col="url", max_hamming=0)
        assert pairs.count() >= 50

    def test_ngram_jaccard_identical_docs(self, spark):
        t = "the quick brown fox jumps over the lazy dog again and again"
        df = spark.createDataFrame(
            [(0, t), (1, t), (2, "совершенно другой текст здесь теперь да")],
            "doc_id long, text string")
        out = ngram_jaccard_all_pairs(df, threshold=0.9).collect()
        assert len(out) == 1
        assert out[0].id_a == 0 and out[0].id_b == 1
        assert out[0].jaccard == pytest.approx(1.0)

    def test_embedding_cosine_pairs(self, spark):
        rows = [(0, [1.0, 0.0]), (1, [1.0, 0.01]), (2, [0.0, 1.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = embedding_cosine_pairs(df, threshold=0.99).collect()
        assert [(r.id_a, r.id_b) for r in out] == [(0, 1)]


class TestText:
    def test_profile_columns(self, spark):
        df = spark.createDataFrame(
            [(0, "The cat and the dog, in a house. It is big!"),
             (1, "le chat est dans la maison pour une nuit"),
             (2, ""),
             (3, "der hund ist nicht ein mit von zu das und")],
            "doc_id long, text string")
        out = {r.doc_id: r for r in text_profile(df).collect()}
        assert out[0].lang_pred == "en"
        assert out[1].lang_pred == "fr"
        assert out[3].lang_pred == "de"
        assert out[0].ws_tokens == 11
        assert out[2].ws_tokens == 0
        assert out[0].quality_score >= 0.7
        assert out[2].quality_score <= 0.2
        # fingerprint: same text modulo whitespace/case -> same value
        df2 = spark.createDataFrame(
            [(0, "Hello  World"), (1, "hello world ")],
            "doc_id long, text string")
        fps = [r.fingerprint for r in text_profile(df2).collect()]
        assert fps[0] == fps[1]

    def test_repetition_score(self, spark):
        from geocode_spark.operators.text import with_repetition_score

        df = spark.createDataFrame(
            [(0, "a b c a b c a b c"),       # "a b c" heavy repetition
             (1, "one two three four five"),  # all distinct
             (2, "x y"),                      # shorter than one 3-gram
             (3, ""),
             (4, None)],                      # NULL text == empty
            "doc_id long, text string")
        out = {r.doc_id: r for r in
               with_repetition_score(df, n=3).collect()}
        # 7 grams, 3 distinct (abc/bca/cab) -> 4/7 duplicated
        assert out[0].ngram_total == 7 and out[0].ngram_distinct == 3
        assert out[0].repetition_score == pytest.approx(4 / 7)
        assert out[1].repetition_score == 0.0
        assert out[2].ngram_total == 0 and out[2].repetition_score == 0.0
        assert out[3].repetition_score == 0.0
        assert out[4].ngram_total == 0 and out[4].repetition_score == 0.0

    def test_contamination_flags(self, spark):
        from geocode_spark.operators.text import contamination_flags

        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps")],
            "doc_id long, text string")
        docs = spark.createDataFrame(
            [(0, "intro text the quick brown fox jumps over"),  # leaked
             (1, "completely unrelated words here entirely"),
             (2, "the quick brown cat sits still")],  # shares no 5-gram
            "doc_id long, text string")
        out = {r.doc_id: r.contaminated_grams for r in
               contamination_flags(docs, bench, n=5).collect()}
        assert 0 in out and out[0] == 1
        assert 1 not in out and 2 not in out
        # the bench-gram side must be broadcast (eval sets are small; the
        # corpus must never shuffle on gram)
        plan = contamination_flags(docs, bench, n=5) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_canonicalize_urls(self, spark):
        from geocode_spark.operators.text import canonicalize_urls

        df = spark.createDataFrame(
            [(0, "HTTPS://Example.ORG/Page/1#frag"),
             (1, "https://example.org/a?utm_source=x&q=1&fbclid=z"),
             (2, "http://example.org:80/a/"),
             (3, "https://example.org:8443/a"),   # non-default port kept
             (4, "relative/path/only/"),
             (5, "https://example.org/")],
            "doc_id long, url string")
        out = {r.doc_id: r for r in canonicalize_urls(df).collect()}
        assert out[0].canonical_url == "https://example.org/Page/1"
        assert out[0].domain == "example.org"
        assert out[1].canonical_url == "https://example.org/a?q=1"
        assert out[2].canonical_url == "http://example.org/a"
        assert out[3].canonical_url == "https://example.org:8443/a"
        assert out[3].domain == "example.org"
        assert out[4].canonical_url == "relative/path/only"
        assert out[4].domain == ""
        assert out[5].canonical_url == "https://example.org"


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark, fixture_dir):
        import os
        df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        return df.withColumn(
            "embedding", F.expr("transform(embedding, x -> cast(x as double))")
        ).cache()

    def test_brute_force_self_is_rank1(self, spark, emb):
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding")
        out = brute_force_topk(emb, q, k=5)
        top1 = {r.query_id: r.vec_id for r in out.filter("rank = 1").collect()}
        assert top1 == {0: 0, 1: 1, 2: 2}

    def test_lsh_recall_vs_brute(self, spark, emb):
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding")
        exact = {(r.query_id, r.vec_id)
                 for r in brute_force_topk(emb, q, k=5).collect()}
        approx = {(r.query_id, r.vec_id)
                  for r in lsh_topk(emb, q, dim=64, k=5, bits=4).collect()}
        # with 4 bits (16 buckets) recall of top-5 should be decent
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.3
        # self-match always survives (same bucket by construction)
        assert all((i, i) in approx for i in range(5))


class TestMultimodal:
    def test_media_meta(self, spark, pages):
        out = with_media_meta(pages.limit(10), binary_col="html")
        rows = out.collect()
        assert all(r.media.n_bytes == len(r.html) for r in rows)
        assert all(r.media.media_type == "binary" for r in rows)

    def test_media_meta_real_decoders(self, spark):
        """End-to-end real decode through the operator: PNG pixel dims,
        WAV sample-accurate duration, binary fallback."""
        import numpy as np

        from geocode_spark.functions.media import encode_png, encode_wav

        rows = [
            (1, bytearray(encode_png(np.zeros((6, 9, 3), np.uint8)))),
            (2, bytearray(encode_wav(np.zeros(4000, np.int16), 8000))),
            (3, bytearray(b"not media")),
        ]
        df = spark.createDataFrame(rows, "id: long, payload: binary")
        got = {r.id: r.media for r in
               with_media_meta(df, binary_col="payload").collect()}
        assert (got[1].media_type, got[1].width, got[1].height) == \
            ("image", 9, 6)
        assert (got[2].media_type, got[2].duration_ms) == ("audio", 500)
        assert got[3].media_type == "binary"

    def test_media_meta_strict_raises_on_corrupt(self, spark):
        """strict=True surfaces MediaFormatError for a corrupt payload
        instead of downgrading it to 'binary'."""
        import numpy as np

        from geocode_spark.functions.media import encode_png

        bad = bytes(encode_png(np.zeros((2, 2), np.uint8)))[:20] + b"junk"
        df = spark.createDataFrame([(1, bytearray(bad))],
                                   "id: long, payload: binary")
        ok = with_media_meta(df, binary_col="payload").collect()
        assert ok[0].media.media_type == "binary"  # non-strict downgrades
        with pytest.raises(Exception, match="MediaFormatError"):
            with_media_meta(df, binary_col="payload", strict=True).collect()

    def test_features_shape(self, spark, pages):
        out = extract_features(pages.limit(5), binary_col="html", dim=8)
        rows = out.collect()
        assert all(len(r.features) == 8 for r in rows)
        assert all(abs(sum(r.features) - 1.0) < 1e-9 for r in rows)

    def test_frame_sample(self, spark, pages):
        out = frame_sample(pages.limit(3), binary_col="html", n_frames=4)
        rows = out.collect()
        assert len(rows) == 12
        assert {r.frame_idx for r in rows} == {0, 1, 2, 3}


class TestPipeline:
    def test_extract_mentions(self, spark, pages):
        m = extract_postcode_mentions(pages)
        rows = m.select("postcode").distinct().collect()
        assert len(rows) > 50
        assert all(" " not in r.postcode for r in rows)

    def test_end_to_end_docs(self, spark, pages, fixture_dir):
        from geocode_spark.operators.forward_geocode import (prepare_cpo,
                                                             prepare_dims)
        from geocode_spark.regions import load_prepared

        cpo = prepare_cpo(
            spark.read.parquet(str(fixture_dir / "cpo_raw.parquet")))
        llsoa = load_prepared("llsoa", fixture_dir / "prepared")
        gsp = load_prepared("gsp", fixture_dir / "prepared")
        out = geocode_documents(pages.limit(200), prepare_dims(cpo), llsoa,
                                gsp)
        rows = out.collect()
        assert len(rows) > 0
        # every geocoded row has a cell assignment; statuses are valid
        assert all(r.match_status in (0, 1, 2) for r in rows)
        ok = [r for r in rows if r.match_status == 1]
        assert len(ok) > 0
        assert all(r.cell_id is not None for r in ok)
        # text invariant: pipeline never alters pages.text (checked by
        # comparing the source table against itself after the run)
        assert pages.filter(F.col("text").isNull()).count() == 0


class TestLineage:
    def test_resume_skips_committed(self, spark, tmp_path):
        from geocode_spark.plans.lineage import read_lineage, run_with_lineage

        df = spark.range(1000).withColumn("k", F.col("id") % 100)
        out = tmp_path / "lineage_out"
        r1 = run_with_lineage(df, out, key_col="id", n_buckets=4,
                              snapshot_id="snap1")
        assert sum(r.rows for r in r1) == 1000
        assert not any(r.skipped for r in r1)
        # resume: all buckets skip
        r2 = run_with_lineage(df, out, key_col="id", n_buckets=4,
                              snapshot_id="snap1")
        assert all(r.skipped for r in r2)
        # new snapshot: recompute
        r3 = run_with_lineage(df, out, key_col="id", n_buckets=4,
                              snapshot_id="snap2")
        assert not any(r.skipped for r in r3)
        manifests = read_lineage(out)
        assert len(manifests) == 4
        assert all(m["committed"] for m in manifests)


def test_minhash_null_signature_fails_by_name(spark, monkeypatch):
    """A null signature list reaching the bucket walk raises a ValueError
    naming the column instead of failing inside the reshape."""
    from geocode_spark.operators import dedup

    real = dedup.minhash_signatures

    def one_null(df, *a, **kw):
        sigs = real(df, *a, **kw)
        return sigs.withColumn(
            "signature",
            F.when(F.col("doc_id") == 1, F.lit(None)).otherwise(
                F.col("signature")))

    monkeypatch.setattr(dedup, "minhash_signatures", one_null)
    df = spark.createDataFrame([(i, f"text number {i % 2}") for i in range(4)],
                               "doc_id long, text string")
    with pytest.raises(Exception, match="null 'signature'"):
        dedup.minhash_dedup_pairs(df).collect()
