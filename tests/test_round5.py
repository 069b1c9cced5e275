"""Round-5 additions: multi-probe recall lift for bucketed cosine pairs,
driver-side argument validation (frame_sample / reverse_geocode_multi),
concurrent broadcast of one prepared set, identifier quoting."""

import sys
import threading

import numpy as np
import pytest

from geocode_spark.sources import fixtures as fx

FIX = str(fx.FIXTURE_DIR)


class TestCosineMultiProbe:
    def test_hamming_probe_lifts_recall(self, spark):
        """60 planted pairs at cosine ~0.94 (sketches differ by ~1 bit
        with good probability at 10 bits): Hamming-1 probing must recover
        strictly more of the exact pair set than single-bucket matching,
        and stay a subset of it (no false pairs — the cosine filter still
        runs on every candidate)."""
        from geocode_spark.operators.dedup import embedding_cosine_pairs

        rng = np.random.default_rng(5)
        rows = []
        for i in range(60):
            v = rng.normal(size=8)
            v /= np.linalg.norm(v)
            w = rng.normal(size=8)
            w -= (w @ v) * v
            w /= np.linalg.norm(w)
            u = np.cos(0.35) * v + np.sin(0.35) * w  # cosine ~0.939
            rows.append((2 * i, v.tolist()))
            rows.append((2 * i + 1, u.tolist()))
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
        exact = {(r.id_a, r.id_b) for r in embedding_cosine_pairs(
            df, threshold=0.9, method="exact").collect()}
        kw = dict(threshold=0.9, method="bucketed", dim=8, bits=10, seed=7)
        h0 = {(r.id_a, r.id_b) for r in embedding_cosine_pairs(
            df, hamming_probes=0, **kw).collect()}
        h1 = {(r.id_a, r.id_b) for r in embedding_cosine_pairs(
            df, hamming_probes=1, **kw).collect()}
        assert h0 <= h1 <= exact
        assert len(h1) > len(h0)  # the probe measurably lifts recall
        assert len(h1) >= 0.6 * len(exact)

    def test_bits_zero_still_exact_with_probes(self, spark):
        """The oracle configuration (bits=0 puts everything in one
        bucket) must stay exactly equal to the exact path regardless of
        hamming_probes — and without duplicate pairs."""
        from geocode_spark.operators.dedup import embedding_cosine_pairs

        rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
        rows += [(10, [1.0, 0.001, 0.0, 0.0])]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
        exact = sorted((r.id_a, r.id_b) for r in embedding_cosine_pairs(
            df, threshold=0.9, method="exact").collect())
        b = sorted((r.id_a, r.id_b) for r in embedding_cosine_pairs(
            df, threshold=0.9, method="bucketed", dim=4, bits=0,
            hamming_probes=2).collect())
        assert b == exact
        assert len(b) == len(set(b))

    def test_bad_probe_count_rejected(self, spark):
        from geocode_spark.operators.dedup import embedding_cosine_pairs

        df = spark.createDataFrame([(0, [1.0])],
                                   "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="hamming_probes"):
            embedding_cosine_pairs(df, method="bucketed", dim=1,
                                   hamming_probes=3).collect()


class TestDriverSideValidation:
    def test_frame_sample_zero_frames_rejected_on_driver(self, spark):
        """n_frames=0 used to reach the executors and die as a
        ZeroDivisionError outside the MediaFormatError policy."""
        from geocode_spark.operators.multimodal import frame_sample

        df = spark.createDataFrame([(b"\x00\x01",)], "html binary")
        with pytest.raises(ValueError, match="n_frames"):
            frame_sample(df, n_frames=0)

    def test_wav_frames_zero_rejected(self):
        from geocode_spark.functions.media import (MediaFormatError,
                                                   encode_wav, wav_frames)

        wav = encode_wav(np.zeros(100, np.int16), 8000)
        with pytest.raises((ValueError, MediaFormatError)):
            wav_frames(wav, 0)

    def test_reverse_geocode_multi_empty_assignments(self, spark):
        from geocode_spark.operators.reverse_geocode import (
            reverse_geocode_multi)

        pts = spark.createDataFrame([(51.5, -0.1)],
                                    "latitude double, longitude double")
        with pytest.raises(ValueError, match="assignments"):
            reverse_geocode_multi(pts, [], keep_cell=True)

    def test_reverse_geocode_multi_unknown_option_rejected(self, spark):
        """A misspelt opts key used to be ignored, silently dropping the
        kNN fallback it meant to configure."""
        from geocode_spark.operators.reverse_geocode import (
            reverse_geocode_multi)
        from geocode_spark.regions import load_prepared

        prep = load_prepared("llsoa", f"{FIX}/prepared")
        pts = spark.createDataFrame([(51.5, -0.1)],
                                    "latitude double, longitude double")
        with pytest.raises(ValueError, match="max_dist"):
            reverse_geocode_multi(pts, [(prep, "x", {"max_dist": 2000})])


class TestBroadcastConcurrency:
    def test_concurrent_calls_no_corruption(self, spark):
        """Threads broadcasting one prep at once each get a valid
        broadcast; no lock is needed."""
        from geocode_spark.operators import reverse_geocode as rg
        from geocode_spark.regions import load_prepared

        prep = load_prepared("llsoa", f"{FIX}/prepared")
        sc = spark.sparkContext
        errs, got = [], []

        def hammer():
            try:
                for _ in range(20):
                    got.append(rg._broadcast_index(sc, prep))
            except Exception as e:  # pragma: no cover
                errs.append(e)

        threads = [threading.Thread(target=hammer) for _ in range(8)]
        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            [t.start() for t in threads]
            [t.join(timeout=120) for t in threads]
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads)
        assert not errs
        assert len(got) == 160
        assert all(isinstance(b.value, rg._CoverIndex) for b in got)


class TestIdentifierQuoting:
    def test_backtick_in_table_name_cannot_escape(self, spark):
        """A backticked name must not break out of the quoting; with no
        Iceberg runtime the probe fails closed to None either way, but
        the quoted SQL itself must be well-formed."""
        from geocode_spark.sources.loaders import pages_snapshot_id

        assert pages_snapshot_id(spark, "evil`.x--") is None


class TestPreparedPolygonParity:
    """The y-bucketed PreparedPolygon ray-cast must be BIT-identical to the
    naive dense all-edges kernel (reimplemented inline here, independent of
    the engine), on polygons large enough to take the bucketed path."""

    @staticmethod
    def _naive_pip(px, py, xs, ys, offs):
        from geocode_spark.geometry import _ring_edges
        x1, y1, x2, y2 = _ring_edges(np.asarray(xs, float),
                                     np.asarray(ys, float),
                                     np.asarray(offs, int))
        out = np.zeros(len(px), dtype=bool)
        for i in range(len(px)):
            cond = (y1 > py[i]) != (y2 > py[i])
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = x1 + (py[i] - y1) / (y2 - y1) * (x2 - x1)
            out[i] = int((cond & (px[i] < xint)).sum()) % 2 == 1
        return out

    def _rand_poly(self, rng, n):
        ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
        rad = (1.0 + 0.25 * np.sin(5 * ang)
               + 0.1 * rng.standard_normal(n).cumsum() / np.sqrt(n))
        rad = np.clip(rad, 0.2, None)
        return rad * np.cos(ang), rad * np.sin(ang)

    def test_bucketed_matches_naive_bitwise(self):
        from geocode_spark.geometry import (PreparedPolygon,
                                            points_in_polygon_prepared)
        rng = np.random.default_rng(7)
        for n in (500, 1200):   # well above _DENSE_EDGE_MAX
            xs, ys = self._rand_poly(rng, n)
            # add a hole ring to exercise multi-ring offsets
            hx, hy = 0.3 * np.cos(np.linspace(0, 2 * np.pi, 50,
                                              endpoint=False)), \
                     0.3 * np.sin(np.linspace(0, 2 * np.pi, 50,
                                              endpoint=False))
            axs = np.r_[xs, hx]
            ays = np.r_[ys, hy]
            offs = np.array([0, n, n + 50])
            px = rng.uniform(-1.6, 1.6, 4000)
            py = rng.uniform(-1.6, 1.6, 4000)
            # include exact-vertex-y probes (degenerate ray heights)
            px = np.r_[px, axs[:100]]
            py = np.r_[py, ays[:100]]
            pp = PreparedPolygon(axs, ays, offs)
            assert pp.x1.size > 160
            got = points_in_polygon_prepared(px, py, pp)
            want = self._naive_pip(px, py, axs, ays, offs)
            assert np.array_equal(got, want)

    def test_dense_path_matches_naive_bitwise(self):
        from geocode_spark.geometry import points_in_polygon
        rng = np.random.default_rng(11)
        xs, ys = self._rand_poly(rng, 60)   # below _DENSE_EDGE_MAX
        offs = np.array([0, 60])
        px = rng.uniform(-1.6, 1.6, 2000)
        py = rng.uniform(-1.6, 1.6, 2000)
        got = points_in_polygon(px, py, xs, ys, offs)
        want = self._naive_pip(px, py, xs, ys, offs)
        assert np.array_equal(got, want)

    def test_distance_prepared_matches_unprepared(self):
        from geocode_spark.geometry import (PreparedPolygon, dist_to_polygon,
                                            dist_to_polygon_m,
                                            dist_to_polygon_m_prepared,
                                            dist_to_polygon_prepared)
        rng = np.random.default_rng(13)
        xs, ys = self._rand_poly(rng, 300)
        offs = np.array([0, 300])
        px = rng.uniform(-2.0, 2.0, 500)
        py = rng.uniform(-2.0, 2.0, 500)
        pp = PreparedPolygon(xs, ys, offs)
        assert np.array_equal(dist_to_polygon_prepared(px, py, pp),
                              dist_to_polygon(px, py, xs, ys, offs))
        assert np.array_equal(dist_to_polygon_m_prepared(px, py, pp),
                              dist_to_polygon_m(px, py, xs, ys, offs))
