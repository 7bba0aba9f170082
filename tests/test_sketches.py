"""Standalone sketch tests: accuracy within published bounds, merge
associativity under permuted merge order, serialization round-trips.

Mirrors the reference's operator-level incremental test strategy
(SURVEY.md §5; e.g. tsv-summarize.d:2865-2874) translated to the
distributed setting: instead of per-row incremental goldens, we assert
that (a) estimates track exact answers within each sketch's bound and
(b) any partition/merge order yields the same answer (within bound).
"""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from tsv_utils_spark.sketches import (
    BloomFilter,
    CountMin,
    HyperLogLog,
    KLL,
    MinHash,
    TDigest,
)
from tsv_utils_spark.sketches.hashing import hash64
from tsv_utils_spark.sketches.minhash import (
    band_keys,
    estimate_jaccard,
    jaccard_exact,
    shingles,
    signature,
)
from tsv_utils_spark.sketches.simhash import hamming64, simhash_batch

RNG = np.random.default_rng(42)


# --------------------------------------------------------------------- HLL
class TestHLL:
    def test_sparse_exact(self):
        h = HyperLogLog(p=12)
        vals = np.asarray([f"v{i}" for i in range(1000)], dtype=object)
        h.update(vals)
        h.update(vals[:500])  # duplicates
        assert h.estimate() == 1000.0

    def test_dense_within_bound(self):
        p = 12
        h = HyperLogLog(p=p, sparse_limit=10)
        n = 200_000
        h.update(np.arange(n))
        err = abs(h.estimate() - n) / n
        assert err < 4 * 1.04 / np.sqrt(1 << p)  # 4 sigma

    def test_merge_associative_exact_sparse(self):
        parts = [np.arange(i * 100, i * 100 + 150) for i in range(4)]
        for perm in itertools.permutations(range(4)):
            h = HyperLogLog(p=12)
            for i in perm:
                o = HyperLogLog(p=12)
                o.update(parts[i])
                h.merge(o)
            assert h.estimate() == 450.0  # 0..449 distinct

    def test_merge_order_invariant_dense(self):
        parts = [RNG.integers(0, 50_000, 60_000) for _ in range(5)]
        ests = []
        for perm in itertools.permutations(range(5)):
            h = HyperLogLog(p=10, sparse_limit=8)
            for i in perm:
                o = HyperLogLog(p=10, sparse_limit=8)
                o.update(parts[i])
                h.merge(o)
            ests.append(h.estimate())
        assert len(set(ests)) == 1  # dense max-merge is exactly order-invariant

    def test_mixed_sparse_dense_merge(self):
        big = HyperLogLog(p=10, sparse_limit=8)
        big.update(np.arange(10_000))
        small = HyperLogLog(p=10, sparse_limit=8)
        small.update(np.asarray(["a", "b"], dtype=object))
        est = HyperLogLog.deserialize(big.serialize()).merge(small).estimate()
        assert abs(est - 10_002) / 10_002 < 4 * 1.04 / np.sqrt(1 << 10)

    def test_serde(self):
        h = HyperLogLog(p=14)
        h.update(np.arange(100))
        h2 = HyperLogLog.deserialize(h.serialize())
        assert h2.estimate() == h.estimate() == 100.0
        h.update(np.arange(50_000))  # force dense
        h3 = HyperLogLog.deserialize(h.serialize())
        assert h3.estimate() == h.estimate()


# --------------------------------------------------------------------- KLL
class TestKLL:
    def test_exact_small(self):
        k = KLL(k=200)
        data = RNG.normal(size=150)
        k.update(data)
        assert k.quantile(0.5) == pytest.approx(np.quantile(data, 0.5))
        assert k.quantile(0.25) == pytest.approx(np.quantile(data, 0.25))

    def test_rank_error_bound(self):
        k = KLL(k=200)
        n = 100_000
        data = RNG.exponential(size=n)
        for chunk in np.array_split(data, 20):
            k.update(chunk)
        s = np.sort(data)
        for q in (0.01, 0.25, 0.5, 0.75, 0.99):
            est = k.quantile(q)
            true_rank = np.searchsorted(s, est) / n
            assert abs(true_rank - q) <= max(k.rank_error() * 3, 0.01), q

    def test_merge_within_bound_any_order(self):
        n = 40_000
        data = RNG.normal(size=n)
        parts = np.array_split(data, 4)
        s = np.sort(data)
        for perm in itertools.permutations(range(4)):
            k = KLL(k=200)
            for i in perm:
                o = KLL(k=200)
                o.update(parts[i])
                k.merge(o)
            est = k.quantile(0.5)
            true_rank = np.searchsorted(s, est) / n
            assert abs(true_rank - 0.5) <= max(3 * k.rank_error(), 0.01)

    def test_serde(self):
        k = KLL(k=128)
        k.update(RNG.normal(size=10_000))
        k2 = KLL.deserialize(k.serialize())
        assert k2.n == k.n
        assert k2.quantile(0.9) == k.quantile(0.9)

    def test_nan_ignored(self):
        k = KLL()
        k.update(np.asarray([1.0, np.nan, 3.0]))
        assert k.n == 2


# ----------------------------------------------------------------- TDigest
class TestTDigest:
    def test_tail_rank_error_under_heavy_merge(self):
        """64-way partial merge on heavy-tailed data (the two-level plan
        shape): extreme-tail rank error stays within the k1 width times
        the suite's standard 3x safety factor (rank_error is a typical-
        case width, not a hard bound) — which is why the strict
        size-capped merge variant is not needed (NOTES.md r2 finding)."""
        rng = np.random.default_rng(3)
        data = rng.lognormal(0, 2, 200_000)
        digs = []
        for part in np.array_split(data, 64):
            t = TDigest(delta=200)
            t.update(part)
            digs.append(t)
        main = digs[0]
        for d in digs[1:]:
            main.merge(d)
        s = np.sort(data)
        for q in (0.9, 0.99, 0.999):
            est = main.quantile(q)
            rank = np.searchsorted(s, est) / len(s)
            assert abs(rank - q) <= 3 * main.rank_error(q), q

    def test_exact_small(self):
        t = TDigest(delta=200)
        data = RNG.normal(size=150)
        t.update(data)
        assert t.quantile(0.5) == pytest.approx(np.quantile(data, 0.5))

    def test_rank_error_bound(self):
        t = TDigest(delta=200)
        n = 100_000
        data = RNG.lognormal(size=n)
        for chunk in np.array_split(data, 25):
            t.update(chunk)
        s = np.sort(data)
        for q in (0.01, 0.1, 0.5, 0.9, 0.99):
            est = t.quantile(q)
            true_rank = np.searchsorted(s, est) / n
            assert abs(true_rank - q) <= max(3 * t.rank_error(q), 0.005), q

    def test_merge_any_order_within_bound(self):
        n = 60_000
        data = RNG.normal(size=n)
        parts = np.array_split(data, 4)
        s = np.sort(data)
        for perm in itertools.permutations(range(4)):
            t = TDigest(delta=200)
            for i in perm:
                o = TDigest(delta=200)
                o.update(parts[i])
                t.merge(o)
            est = t.quantile(0.5)
            true_rank = np.searchsorted(s, est) / n
            assert abs(true_rank - 0.5) <= max(3 * t.rank_error(0.5), 0.005)

    def test_bounded_size(self):
        t = TDigest(delta=100)
        for _ in range(50):
            t.update(RNG.normal(size=10_000))
        assert t.means.size <= 2 * 100  # centroids bounded ~delta

    def test_serde(self):
        t = TDigest()
        t.update(RNG.normal(size=5_000))
        t2 = TDigest.deserialize(t.serialize())
        assert t2.quantile(0.5) == t.quantile(0.5)


# ---------------------------------------------------------------- CountMin
class TestCountMin:
    def test_point_exact_low_card(self):
        cm = CountMin(depth=5, width=1 << 14)
        vals = np.asarray(["a"] * 500 + ["b"] * 300 + ["c"] * 7, dtype=object)
        cm.update(vals)
        assert cm.count("a") == 500
        assert cm.count("b") == 300
        assert cm.count("c") == 7
        assert cm.mode() == ("a", 500)

    def test_datetime64_batch_keys_as_datetime(self):
        # ADVICE r4: datetime64[ns].tolist() yields raw epoch-ns ints —
        # a raw datetime64 batch (the public-API / pandas-kernel shape)
        # must produce the SAME candidate keys as the object-datetime
        # path (Arrow kernel / re-score), or the same instant splits
        # into two candidates across merged partials and a typed mode
        # can finalize as an int.
        import datetime

        batch = np.array(["2024-03-01T12:00", "2024-03-01T13:00",
                          "2024-03-01T12:00"], dtype="datetime64[ns]")
        a = CountMin(depth=3, width=256)
        a.update(batch)
        b = CountMin(depth=3, width=256)
        b.update(np.asarray(
            [datetime.datetime(2024, 3, 1, 12),
             datetime.datetime(2024, 3, 1, 13),
             datetime.datetime(2024, 3, 1, 12)], dtype=object))
        assert all(isinstance(k, datetime.datetime) for k in a.candidates)
        assert set(a.candidates) == set(b.candidates)
        merged = a.merge(b)
        assert merged.count(datetime.datetime(2024, 3, 1, 12)) == 4

    def test_overestimate_bound(self):
        cm = CountMin(depth=5, width=1 << 12)
        zipf = RNG.zipf(1.5, size=50_000)
        zipf = zipf[zipf < 10_000]
        cm.update(zipf)
        uniq, cnt = np.unique(zipf, return_counts=True)
        est = cm.counts(uniq)
        # CM never underestimates
        assert (est >= cnt).all()
        # eps*N bound with failure prob e^-depth; allow tiny slack
        viol = (est - cnt) > cm.epsilon * cm.n
        assert viol.mean() < 0.01

    def test_merge_associative_exact(self):
        parts = [np.asarray(["x"] * 10 + ["y"] * (i + 1), dtype=object) for i in range(3)]
        base = None
        for perm in itertools.permutations(range(3)):
            cm = CountMin(depth=3, width=1 << 10)
            for i in perm:
                o = CountMin(depth=3, width=1 << 10)
                o.update(parts[i])
                cm.merge(o)
            key = (cm.count("x"), cm.count("y"))
            base = base or key
            assert key == base == (30, 6)

    def test_serde(self):
        cm = CountMin()
        cm.update(np.asarray(["m"] * 42, dtype=object))
        cm2 = CountMin.deserialize(cm.serialize())
        assert cm2.count("m") == 42
        assert cm2.mode() == ("m", 42)

    def test_serde_preserves_typed_keys(self):
        # Decimal / date / datetime candidate keys must survive a
        # serialize round-trip with IDENTITY intact: a stringified
        # fallback would split a value's counts between the typed and
        # string form after merge
        import datetime
        import decimal

        keys = [decimal.Decimal("1.50"),
                datetime.date(2024, 3, 1),
                datetime.datetime(2024, 3, 1, 12, 30, 0)]
        cm = CountMin(depth=3, width=1 << 10)
        cm.update(np.asarray(keys * 5, dtype=object))
        cm2 = CountMin.deserialize(cm.serialize())
        fresh = CountMin(depth=3, width=1 << 10)
        fresh.update(np.asarray(keys * 3, dtype=object))
        cm2.merge(fresh)
        for k in keys:
            assert cm2.count(k) == 8
        mode_val, mode_n = cm2.mode()
        assert mode_n == 8
        assert type(mode_val) in (decimal.Decimal, datetime.date,
                                  datetime.datetime)

    def test_unsupported_key_type_rejected_loudly(self):
        import pytest

        class Weird:
            pass

        cm = CountMin(depth=3, width=1 << 10)
        cm.update(np.asarray([Weird()], dtype=object))
        with pytest.raises(TypeError, match="not\\s+round-trippable"):
            cm.serialize()


# ------------------------------------------------------------------- Bloom
class TestBloom:
    def test_no_false_negatives(self):
        b = BloomFilter.from_capacity(10_000, fpr=0.01)
        vals = np.asarray([f"k{i}" for i in range(10_000)], dtype=object)
        b.update(vals)
        assert b.contains(vals).all()

    def test_fpr_within_bound(self):
        b = BloomFilter.from_capacity(10_000, fpr=0.01)
        b.update(np.asarray([f"k{i}" for i in range(10_000)], dtype=object))
        probe = np.asarray([f"absent{i}" for i in range(20_000)], dtype=object)
        fpr = b.contains(probe).mean()
        assert fpr < 0.03  # 3x design FPR slack
        assert b.expected_fpr < 0.02

    def test_merge_is_union(self):
        a = BloomFilter(m=1 << 16, k=5)
        c = BloomFilter(m=1 << 16, k=5)
        a.update(np.asarray(["a1", "a2"], dtype=object))
        c.update(np.asarray(["c1"], dtype=object))
        a.merge(c)
        assert a.contains(np.asarray(["a1", "a2", "c1"], dtype=object)).all()

    def test_serde(self):
        b = BloomFilter.from_capacity(100, 0.01)
        b.update(np.asarray(["q"], dtype=object))
        b2 = BloomFilter.deserialize(b.serialize())
        assert b2.contains(np.asarray(["q"], dtype=object)).all()
        assert (b2.m, b2.k) == (b.m, b.k)


# ----------------------------------------------------------- MinHash / LSH
class TestMinHash:
    def test_jaccard_estimate(self):
        toks_a = [f"w{i}" for i in range(100)]
        toks_b = [f"w{i}" for i in range(20, 120)]  # Jaccard of shingle sets ~2/3
        sa = signature(shingles(toks_a, 3), k=256)
        sb = signature(shingles(toks_b, 3), k=256)
        exact = jaccard_exact(toks_a, toks_b, 3)
        est = estimate_jaccard(sa, sb)
        # std err of k=256 MinHash ~ sqrt(j(1-j)/k) ~ 0.03
        assert abs(est - exact) < 4 * np.sqrt(exact * (1 - exact) / 256)

    def test_identical_docs_collide_in_lsh(self):
        toks = ["the", "quick", "brown", "fox"] * 10
        s1 = signature(shingles(toks, 3), k=128)
        s2 = signature(shingles(list(toks), 3), k=128)
        assert (band_keys(s1, 16) == band_keys(s2, 16)).all()

    def test_object_lifecycle(self):
        m1, m2 = MinHash(k=128), MinHash(k=128)
        m1.update(np.asarray([f"x{i}" for i in range(50)], dtype=object))
        m2.update(np.asarray([f"x{i}" for i in range(50)], dtype=object))
        assert m1.jaccard(m2) == 1.0
        m3 = MinHash.deserialize(m1.serialize())
        assert m3.jaccard(m1) == 1.0


# ----------------------------------------------------------------- SimHash
class TestSimHash:
    def test_near_dups_close(self):
        a = [f"tok{i}" for i in range(200)]
        b = a[:195] + ["zzz1", "zzz2", "zzz3", "zzz4", "zzz5"]
        c = [f"other{i}" for i in range(200)]
        ha, hb, hc = simhash_batch([a, b, c])
        d_ab = hamming64(np.asarray([ha]), np.asarray([hb]))[0]
        d_ac = hamming64(np.asarray([ha]), np.asarray([hc]))[0]
        assert d_ab < 12
        assert d_ac > 20

    def test_deterministic(self):
        toks = ["alpha", "beta", "gamma"]
        assert simhash_batch([toks])[0] == simhash_batch([list(toks)])[0]


# ----------------------------------------------------------------- hashing
class TestHashing:
    def test_stable_across_dtypes(self):
        h1 = hash64(np.asarray(["abc", "def"], dtype=object))
        h2 = hash64(np.asarray(["abc", "def"], dtype=object))
        assert (h1 == h2).all()

    def test_int_spread(self):
        h = hash64(np.arange(10_000))
        # top byte should be near-uniform
        tops = (h >> np.uint64(56)).astype(np.int64)
        counts = np.bincount(tops, minlength=256)
        assert counts.std() / counts.mean() < 0.3


class TestTimezoneCanonicalization:
    def test_aware_and_naive_merge_to_one_candidate(self):
        # Arrow kernel yields tz-aware datetimes, pandas inputs naive
        # datetime64 — the same instant must be one candidate/cell
        import datetime

        import numpy as np

        from tsv_utils_spark.sketches.countmin import CountMin

        aware = datetime.datetime(2024, 3, 1, 12, 0,
                                  tzinfo=datetime.timezone.utc)
        shifted = datetime.datetime(2024, 3, 1, 14, 0,
                                    tzinfo=datetime.timezone(
                                        datetime.timedelta(hours=2)))
        naive = datetime.datetime(2024, 3, 1, 12, 0)
        a = CountMin(depth=3, width=1 << 10)
        a.update(np.asarray([aware] * 4, dtype=object))
        b = CountMin(depth=3, width=1 << 10)
        b.update(np.asarray([naive] * 3 + [shifted] * 2, dtype=object))
        a.merge(b)
        assert a.count(naive) == 9 == a.count(aware)
        assert a.mode() == (naive, 9)
        # serde round-trip keeps the canonical key
        c = CountMin.deserialize(a.serialize())
        assert c.mode() == (naive, 9)

    def test_mixed_aware_naive_array_hashes_without_crash(self):
        import datetime

        import numpy as np

        from tsv_utils_spark.sketches.hashing import hash64

        aware = datetime.datetime(2024, 3, 1, 12, 0,
                                  tzinfo=datetime.timezone.utc)
        naive = datetime.datetime(2024, 3, 1, 12, 0)
        h = hash64(np.asarray([aware, naive, "x", None], dtype=object))
        assert h[0] == h[1]


class TestThetaKMV:
    def test_exact_below_capacity_including_set_ops(self):
        import numpy as np

        from tsv_utils_spark.sketches.theta import ThetaKMV

        a = ThetaKMV(k=1024)
        a.update(np.array([f"u{i}" for i in range(300)], dtype=object))
        b = ThetaKMV(k=1024)
        b.update(np.array([f"u{i}" for i in range(200, 500)], dtype=object))
        assert a.estimate() == 300.0 and b.estimate() == 300.0
        assert a.intersect_estimate(b) == 100.0
        assert a.difference_estimate(b) == 200.0
        assert a.union_estimate(b) == 500.0

    def test_error_within_bound_at_capacity(self):
        import numpy as np

        from tsv_utils_spark.sketches.theta import ThetaKMV

        t = ThetaKMV(k=4096)
        # real update path: hash64 uniformizes over the FULL 64-bit
        # space (the estimator's assumption — raw hashes spanning only
        # part of the space would bias theta)
        t.update(np.arange(200_000))
        true = 200_000
        assert abs(t.estimate() - true) / true < 5 * t.rse

    def test_intersection_estimate_at_capacity(self):
        import numpy as np

        from tsv_utils_spark.sketches.theta import ThetaKMV

        a = ThetaKMV(k=4096)
        b = ThetaKMV(k=4096)
        a.update(np.arange(0, 60_000))
        b.update(np.arange(30_000, 90_000))  # true overlap 30_000
        est = a.intersect_estimate(b)
        assert abs(est - 30_000) / 30_000 < 0.15  # ~several RSE of k=4096

    def test_merge_is_permutation_invariant_and_serde(self):
        import itertools

        import numpy as np

        from tsv_utils_spark.sketches.theta import ThetaKMV

        chunks = [np.arange(i * 100, i * 100 + 150) for i in range(4)]
        results = set()
        for perm in itertools.permutations(range(4)):
            m = ThetaKMV(k=64)
            for i in perm:
                c = ThetaKMV(k=64)
                c.update(chunks[i])
                m.merge(ThetaKMV.deserialize(c.serialize()))
            results.add((m.estimate(), m.hashes.tobytes()))
        assert len(results) == 1  # identical sketch whatever the order

    def test_k_mismatch_rejected(self):
        import pytest

        from tsv_utils_spark.sketches.theta import ThetaKMV

        with pytest.raises(ValueError, match="mismatch"):
            ThetaKMV(k=64).merge(ThetaKMV(k=128))

    def test_self_intersection_equals_estimate_at_capacity(self):
        # the threshold is held as an EXACT uint64: a float64 round-trip
        # could re-include the theta-defining hash and make
        # a.intersect(a) != a.estimate()
        import numpy as np

        from tsv_utils_spark.sketches.theta import ThetaKMV

        t = ThetaKMV(k=1024)
        t.update(np.arange(50_000))
        assert t.intersect_estimate(t) == t.estimate()
        assert t.difference_estimate(t) == 0.0

    def test_union_rejects_k_mismatch_but_intersect_allows(self):
        import numpy as np
        import pytest

        from tsv_utils_spark.sketches.theta import ThetaKMV

        a = ThetaKMV(k=64)
        a.update(np.arange(1000))
        b = ThetaKMV(k=256)
        b.update(np.arange(500, 1500))
        with pytest.raises(ValueError, match="mismatch"):
            a.union_estimate(b)
        # intersect/difference stay valid across capacities (shared
        # exact threshold)
        est = a.intersect_estimate(b)
        assert abs(est - 500) / 500 < 0.5  # k=64 is coarse; just sane
