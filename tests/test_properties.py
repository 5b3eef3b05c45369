"""Property-based merge-algebra gates (hypothesis): the north-star's
"shuffle order never changes results" contract, explored over random
inputs, random partitionings, and random merge-tree shapes instead of
the fixed seeds the pipeline tests use.

Two contract strengths, matching SURVEY §2 item 33:

* BIT-EQUALITY families (Bloom parity + native, HLL sparse/dense, CMS,
  quotient, sharded cuckoo): the serialized state is a pure function of
  the absorbed multiset — any partition into partials, merged in any
  order, yields byte-identical ``to_bytes()``.
* BOUND-INVARIANCE families (t-digest, KLL): states may differ by merge
  tree, but every tree's quantile estimates stay within the published
  rank-error bound of the exact data.

Kernel-level only (no SparkSession): these are the exact objects the
Arrow partials serialize, so the property transfers to any shuffle plan.
"""

from __future__ import annotations

import numpy as np
import pytest

hyp = pytest.importorskip("hypothesis")
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_SETTINGS = dict(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _partials(rng_key: int, n_parts: int, items: list):
    """Deterministic pseudo-random partition of ``items`` into
    ``n_parts`` (possibly empty) groups."""
    rng = np.random.default_rng(rng_key)
    assign = rng.integers(0, n_parts, len(items))
    return [[it for it, a in zip(items, assign) if a == g] for g in range(n_parts)]


def _merge_orders(rng_key: int, n: int):
    """A pseudo-random binary merge tree over n leaves, expressed as a
    fold order (sequence of (dst, src) merges into index dst)."""
    rng = np.random.default_rng(rng_key)
    live = list(range(n))
    order = []
    while len(live) > 1:
        i, j = sorted(rng.choice(len(live), 2, replace=False))
        order.append((live[i], live[j]))
        live.pop(j)
    return order


hashes_strategy = st.lists(
    st.integers(min_value=0, max_value=(1 << 64) - 1), min_size=0, max_size=300
)
seed_strategy = st.integers(min_value=0, max_value=2**32 - 1)


class TestBitEqualityFamilies:
    @given(items=st.lists(st.integers(0, 10**9), max_size=200), key=seed_strategy)
    @settings(**_SETTINGS)
    def test_bloom_parity_partition_invariant(self, items, key):
        from probabilistic_rs_spark.sketches.bloom import BloomConfig, BloomSketch

        cfg = BloomConfig(capacity=4096, false_positive_rate=0.01)
        payloads = [str(i).encode() for i in items]
        ref = BloomSketch(cfg)
        ref.update_batch(payloads)
        parts = _partials(key, 4, payloads)
        sks = []
        for p in parts:
            sk = BloomSketch(cfg)
            sk.update_batch(p)
            sks.append(sk)
        for dst, src in _merge_orders(key ^ 0xA5, len(sks)):
            sks[dst].merge(sks[src])
        assert sks[0].to_bytes() == ref.to_bytes()

    @given(hs=hashes_strategy, key=seed_strategy)
    @settings(**_SETTINGS)
    def test_hll_merge_tree_invariant_across_sparse_dense(self, hs, key):
        from probabilistic_rs_spark.sketches.hll import HyperLogLog

        # tiny sparse threshold so random cases cross the sparse→dense
        # boundary at different points of different merge trees
        def fresh():
            return HyperLogLog(p=6, sparse_threshold=8)

        arr = np.array(hs, dtype=np.uint64)
        ref = fresh()
        ref.update_hashes(arr)
        parts = _partials(key, 4, hs)
        sks = []
        for p in parts:
            sk = fresh()
            sk.update_hashes(np.array(p, dtype=np.uint64))
            sks.append(sk)
        for dst, src in _merge_orders(key ^ 0x5A, len(sks)):
            sks[dst].merge(sks[src])
        assert sks[0].to_bytes() == ref.to_bytes()

    @given(
        pairs=st.lists(
            st.tuples(
                st.integers(0, (1 << 64) - 1), st.integers(1, 1000)
            ),
            max_size=200,
        ),
        key=seed_strategy,
    )
    @settings(**_SETTINGS)
    def test_cms_merge_tree_invariant(self, pairs, key):
        from probabilistic_rs_spark.sketches.cms import CountMinSketch

        def absorb(sk, ps):
            if ps:
                h = np.array([p[0] for p in ps], dtype=np.uint64)
                c = np.array([p[1] for p in ps], dtype=np.int64)
                sk.update_hashes(h, c)

        ref = CountMinSketch(eps=0.01, delta=0.1)
        absorb(ref, pairs)
        parts = _partials(key, 3, pairs)
        sks = []
        for p in parts:
            sk = CountMinSketch(eps=0.01, delta=0.1)
            absorb(sk, p)
            sks.append(sk)
        for dst, src in _merge_orders(key ^ 0x33, len(sks)):
            sks[dst].merge(sks[src])
        assert sks[0].to_bytes() == ref.to_bytes()

    @given(
        pairs=st.lists(
            st.tuples(
                st.integers(0, (1 << 62) - 1),
                st.integers(0, (1 << 56) - 1),
                # negative counts = the TURNSTILE domain (deletions):
                # linearity must hold over the full signed-weight space
                st.integers(-1000, 1000),
            ),
            max_size=200,
        ),
        key=seed_strategy,
    )
    @settings(**_SETTINGS)
    def test_countsketch_merge_tree_invariant(self, pairs, key):
        """Count sketch is a LINEAR sketch (matrix add), so like CMS the
        state is a pure function of the absorbed weighted multiset: any
        partitioning and merge tree reproduces the one-shot bytes —
        including the adaptive dense/sparse wire choice, which depends
        only on the merged matrix, and including NEGATIVE weights (the
        turnstile model: inserts and deletes in any interleaving)."""
        from probabilistic_rs_spark.sketches.countsketch import CountSketch

        def absorb(sk, ps):
            if ps:
                base = np.array([[p[0], p[1]] for p in ps], dtype=np.int64)
                c = np.array([p[2] for p in ps], dtype=np.int64)
                sk.update_base_hashes(base, c)

        ref = CountSketch(eps=0.05, delta=0.1)
        absorb(ref, pairs)
        parts = _partials(key, 3, pairs)
        sks = []
        for p in parts:
            sk = CountSketch(eps=0.05, delta=0.1)
            absorb(sk, p)
            sks.append(sk)
        for dst, src in _merge_orders(key ^ 0x44, len(sks)):
            sks[dst].merge(sks[src])
        assert sks[0].to_bytes() == ref.to_bytes()

    @given(hs=hashes_strategy, key=seed_strategy)
    @settings(**_SETTINGS)
    def test_theta_merge_tree_invariant(self, hs, key):
        """Theta/KMV joins the bit-equality family: the state is a pure
        function of the absorbed distinct-hash set (k smallest + the
        (k+1)-th as θ), so any partitioning and merge tree — INCLUDING
        trees whose intermediate nodes trim at different thresholds —
        reproduces the one-shot bytes. A tiny k forces random cases
        across the exact→sampling boundary at different tree depths."""
        from probabilistic_rs_spark.sketches.theta import ThetaSketch

        arr = np.array(hs, dtype=np.uint64)
        ref = ThetaSketch(k=16)
        ref.update_hashes(arr)
        parts = _partials(key, 4, hs)
        sks = []
        for p in parts:
            sk = ThetaSketch(k=16)
            sk.update_hashes(np.array(p, dtype=np.uint64))
            sks.append(sk)
        for dst, src in _merge_orders(key ^ 0x77, len(sks)):
            sks[dst].merge(sks[src])
        assert sks[0].to_bytes() == ref.to_bytes()
        # n_updates is additive through any tree
        assert ThetaSketch.from_bytes(sks[0].to_bytes()).n_updates == len(hs)

    @given(hs=hashes_strategy, key=seed_strategy)
    @settings(**_SETTINGS)
    def test_quotient_multiset_merge_invariant(self, hs, key):
        from probabilistic_rs_spark.sketches.quotient import QuotientFilter

        def fresh():
            return QuotientFilter(2048, 1e-6, max_state_bytes=None)

        ref = fresh()
        if hs:
            ref.update_hashes(np.array(hs, dtype=np.uint64))
        parts = _partials(key, 4, hs)
        sks = []
        for p in parts:
            sk = fresh()
            if p:
                sk.update_hashes(np.array(p, dtype=np.uint64))
            sks.append(sk)
        for dst, src in _merge_orders(key ^ 0x77, len(sks)):
            sks[dst].merge(sks[src])
        assert sks[0].to_bytes() == ref.to_bytes()

    @given(hs=hashes_strategy, key=seed_strategy)
    @settings(**_SETTINGS)
    def test_cuckoo_build_is_shuffle_free_and_fn_free(self, hs, key):
        """The sharded build's determinism contract: every builder
        routes raw hashes through ``np.unique`` (sorted-unique) before
        ``insert_hashes``, so the table bytes are a pure function of the
        hash SET however the input multiset was partitioned or ordered.
        (``insert_hashes`` itself is deliberately order-sensitive —
        placement follows input order — which is why the sort is part
        of the contract, not an optimization.)"""
        from probabilistic_rs_spark.sketches.cuckoo import CuckooFilter

        raw = np.array(hs, dtype=np.uint64)
        shuffled = raw.copy()
        np.random.default_rng(key).shuffle(shuffled)
        dup = np.concatenate([shuffled, shuffled[: len(shuffled) // 2]])
        a = CuckooFilter(4096)
        a.insert_hashes(np.unique(raw))
        b = CuckooFilter(4096)
        b.insert_hashes(np.unique(dup))  # shuffled + duplicated multiset
        assert a.to_bytes() == b.to_bytes()
        if len(raw):
            assert a.contains_hashes(raw).all()  # zero false negatives

    @given(hs=hashes_strategy)
    @settings(**_SETTINGS)
    def test_serialization_round_trip_identity(self, hs):
        from probabilistic_rs_spark.sketches.cms import CountMinSketch
        from probabilistic_rs_spark.sketches.hll import HyperLogLog
        from probabilistic_rs_spark.sketches.quotient import QuotientFilter

        arr = np.array(hs, dtype=np.uint64)
        for sk in (
            HyperLogLog(p=6, sparse_threshold=8),
            CountMinSketch(eps=0.01, delta=0.1),
            QuotientFilter(2048, 1e-6, max_state_bytes=None),
        ):
            sk.update_hashes(arr)
            blob = sk.to_bytes()
            assert type(sk).from_bytes(blob).to_bytes() == blob


class TestBoundInvarianceFamilies:
    @given(
        items=st.lists(st.integers(0, 40), min_size=1, max_size=400),
        key=seed_strategy,
    )
    @settings(**_SETTINGS)
    def test_mg_bound_holds_for_any_merge_tree(self, items, key):
        """Misra–Gries PODS'12 invariant under random partitionings and
        merge trees: est <= true <= est + D with D = (N − M)/(k+1) read
        off the merged state, D never exceeding N/(k+1), and every key
        with true count > D retained. A tiny k over a 41-symbol alphabet
        forces compaction at varying tree depths."""
        from collections import Counter

        from probabilistic_rs_spark.sketches.mg import MisraGries

        keys = [str(i) for i in items]
        true = Counter(keys)
        parts = _partials(key, 4, keys)
        sks = []
        for p in parts:
            sk = MisraGries(k=5)
            sk.update_batch(p)
            sks.append(sk)
        for dst, src in _merge_orders(key ^ 0x99, len(sks)):
            sks[dst].merge(sks[src])
        m = sks[0]
        assert m.n_total == len(keys)
        d = m.max_undercount()
        assert d <= len(keys) / 6.0
        for kk, t in true.items():
            est = m.estimate(kk)
            assert est <= t <= est + d + 1e-9
            if t > d:
                assert est > 0

    @given(
        vals=st.lists(
            st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
            min_size=20,
            max_size=400,
        ),
        key=seed_strategy,
    )
    @settings(**_SETTINGS)
    def test_kll_rank_bound_holds_for_any_merge_tree(self, vals, key):
        from probabilistic_rs_spark.sketches.kll import KLLSketch

        parts = _partials(key, 4, vals)
        sks = []
        for p in parts:
            sk = KLLSketch(k=200)
            sk.update_values(np.array(p, dtype=np.float64))
            sks.append(sk)
        for dst, src in _merge_orders(key ^ 0x11, len(sks)):
            sks[dst].merge(sks[src])
        sk = sks[0]
        data = np.sort(np.array(vals, dtype=np.float64))
        n = len(data)
        eps = sk.rank_error_bound()
        for q in (0.1, 0.5, 0.9):
            est = float(np.asarray(sk.quantile(q)).reshape(-1)[0])
            # duplicate masses make rank an INTERVAL: the estimate is
            # within bound if [lo, hi] intersects [q-eps, q+eps]
            lo = np.searchsorted(data, est, side="left")
            hi = np.searchsorted(data, est, side="right")
            assert lo / n - eps - 1.0 / n <= q <= hi / n + eps + 1.0 / n

    @given(
        vals=st.lists(
            st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
            min_size=20,
            max_size=400,
        ),
        key=seed_strategy,
    )
    @settings(**_SETTINGS)
    def test_tdigest_rank_window_holds_for_any_merge_tree(self, vals, key):
        from probabilistic_rs_spark.sketches.tdigest import TDigest

        parts = _partials(key, 4, vals)
        sks = []
        for p in parts:
            sk = TDigest(delta=200.0)
            sk.update_values(np.array(p, dtype=np.float64))
            sks.append(sk)
        for dst, src in _merge_orders(key ^ 0x22, len(sks)):
            sks[dst].merge(sks[src])
        sk = sks[0]
        data = np.sort(np.array(vals, dtype=np.float64))
        n = len(data)
        for q in (0.1, 0.5, 0.9):
            est = float(np.asarray(sk.quantile(q)).reshape(-1)[0])
            lo = np.searchsorted(data, est, side="left")
            hi = np.searchsorted(data, est, side="right")
            # generous k1-scale rank window: 5% + discretization slack
            assert lo / n - 0.05 - 2.0 / n <= q <= hi / n + 0.05 + 2.0 / n


class TestBatcherMedianNetwork:
    @given(
        vals=st.lists(st.integers(-(10**12), 10**12), min_size=1, max_size=31),
        key=seed_strategy,
    )
    @settings(**_SETTINGS)
    def test_network_median_equals_true_median_for_odd_d(self, vals, key):
        """The least/greatest comparator schedule behind
        ``operators.moments.median_expr`` (Batcher odd-even mergesort,
        +inf sentinel padding to a power of two, middle wire) computes
        the EXACT median for every odd input size 1..31 — simulated here
        wire-for-wire in pure python so the generative gate covers every
        d the config admits, including duplicate and extreme values."""
        from probabilistic_rs_spark.operators.moments import _batcher_pairs

        if len(vals) % 2 == 0:
            vals = vals[:-1]  # median_expr is defined for odd d
        d = len(vals)
        length = 1
        while length < d:
            length <<= 1
        wires = list(vals) + [1 << 62] * (length - d)
        for a, b in _batcher_pairs(length) if length > 1 else []:
            lo, hi = min(wires[a], wires[b]), max(wires[a], wires[b])
            wires[a], wires[b] = lo, hi
        assert wires[d // 2] == sorted(vals)[d // 2]


class TestNativeBloomProperty:
    @given(
        pairs=st.lists(
            st.tuples(
                st.integers(0, (1 << 62) - 1), st.integers(0, (1 << 56) - 1)
            ),
            max_size=200,
        ),
        key=seed_strategy,
    )
    @settings(**_SETTINGS)
    def test_native_bloom_partition_invariant(self, pairs, key):
        """The JVM-hash family's kernel (`update_base_hashes` over KM
        (h1, h2) pairs — the exact shape the streaming projection and
        batch builders ship) is partition/merge-tree invariant like the
        parity family."""
        from probabilistic_rs_spark.sketches.bloom import BloomConfig
        from probabilistic_rs_spark.sketches.native_bloom import NativeBloomSketch

        cfg = BloomConfig(capacity=4096, false_positive_rate=0.01)

        def absorb(sk, ps):
            if ps:
                sk.update_base_hashes(np.array(ps, dtype=np.int64))

        ref = NativeBloomSketch(cfg)
        absorb(ref, pairs)
        parts = _partials(key, 4, pairs)
        sks = []
        for p in parts:
            sk = NativeBloomSketch(cfg)
            absorb(sk, p)
            sks.append(sk)
        for dst, src in _merge_orders(key ^ 0x44, len(sks)):
            sks[dst].merge(sks[src])
        assert sks[0].to_bytes() == ref.to_bytes()


@given(
    blocks=st.lists(st.integers(0, 70_000), max_size=300),
    spread=st.sampled_from([1, 3, 300, 70_001]),
)
@settings(**_SETTINGS)
def test_split_by_block_equals_mask_loop(blocks, spread):
    """The block split of the packed-offset builds (one stable argsort)
    yields exactly the blocks, order and slices of the per-block mask
    loop it replaced, for 8-, 16- and 32-bit block ids."""
    from probabilistic_rs_spark.common import split_by_block

    b = np.array(blocks, dtype=np.uint64) % np.uint64(spread)
    vals = np.arange(len(b), dtype=np.int32)
    want = [(int(x), vals[b == x]) for x in np.unique(b)]
    got = list(split_by_block(b, vals))
    assert [g[0] for g in got] == [w[0] for w in want]
    for (_, g), (_, w) in zip(got, want):
        assert g.tobytes() == w.tobytes()
