"""Quotient filter — core algebra, accuracy gates, and distributed
build/probe/delete (the reference's last planned structure,
``/root/reference/specs/overview.md:20-24``).

Mirrors the gate structure of the cuckoo/Bloom suites: zero false
negatives, FPR within the published bound (n·2^-p), merge
associativity/commutativity down to bit equality, delete-exactness, and
partitioning-invariant distributed builds.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from probabilistic_rs_spark.errors import SketchConfigError, SketchStateError
from probabilistic_rs_spark.functions.hashing import splitmix64
from probabilistic_rs_spark.sketches.quotient import QuotientFilter, quotient_params


def _hashes(n, seed=0):
    return splitmix64(np.arange(seed * 10_000_000, seed * 10_000_000 + n, dtype=np.uint64))


class TestCore:
    def test_params_cover_capacity_and_fpr(self):
        q, r = quotient_params(100_000, 0.01)
        assert (1 << q) * 0.95 >= 100_000
        assert 0.95 * 2.0 ** (-r) <= 0.01

    def test_param_validation(self):
        with pytest.raises(SketchConfigError):
            quotient_params(0, 0.01)
        with pytest.raises(SketchConfigError):
            quotient_params(100, 1.5)
        with pytest.raises(SketchConfigError):
            quotient_params(10**15, 1e-9)  # > 64 fingerprint bits

    def test_no_false_negatives_and_fpr_bound(self):
        n = 50_000
        sk = QuotientFilter(n, 0.01)
        h = _hashes(n)
        sk.update_hashes(h)
        assert sk.contains_hashes(h).all()  # zero FN
        strangers = _hashes(200_000, seed=7)
        fpr = sk.contains_hashes(strangers).mean()
        assert fpr <= 3.0 * sk.false_positive_rate() + 1e-9
        assert sk.false_positive_rate() <= 0.01  # bound itself within target

    def test_overflow_raises(self):
        sk = QuotientFilter(1000, 0.01)
        with pytest.raises(SketchStateError, match="overflow"):
            sk.update_hashes(_hashes(1 << sk.q))

    def test_merge_associative_commutative_bit_identical(self):
        n = 10_000
        parts = [_hashes(n, seed=s) for s in range(1, 4)]
        sks = []
        for hs in parts:
            sk = QuotientFilter(60_000, 0.01)
            sk.update_hashes(hs)
            sks.append(sk.to_bytes())
        a = QuotientFilter.from_bytes(sks[0]).merge_bytes(sks[1]).merge_bytes(sks[2])
        b = QuotientFilter.from_bytes(sks[2]).merge_bytes(sks[0]).merge_bytes(sks[1])
        c = QuotientFilter.from_bytes(sks[1]).merge(
            QuotientFilter.from_bytes(sks[2]).merge_bytes(sks[0])
        )
        assert a.to_bytes() == b.to_bytes() == c.to_bytes()
        assert a.n_updates == 3 * n

    def test_delete_one_occurrence_vs_remove_all(self):
        sk = QuotientFilter(10_000, 0.001)
        h = _hashes(100)
        sk.update_hashes(h)
        sk.update_hashes(h[:50])  # duplicates: multiset
        assert sk.n_items == 150
        # multiset delete removes ONE occurrence
        assert sk.delete_hashes(h[:50]) == 50
        assert sk.contains_hashes(h[:50]).all()  # second copy remains
        # remove_all wipes every occurrence
        fp = (h[:50] >> np.uint64(64 - sk.p)).astype(sk.fps.dtype)
        assert sk.remove_all(np.sort(fp)) == 50
        assert not sk.contains_hashes(h[:50]).any()
        assert sk.contains_hashes(h[50:]).all()  # survivors intact

    def test_serialization_roundtrip_and_corruption(self):
        sk = QuotientFilter(5_000, 0.01)
        sk.update_hashes(_hashes(3_000))
        blob = sk.to_bytes()
        back = QuotientFilter.from_bytes(blob)
        assert np.array_equal(back.fps, sk.fps)
        assert back.n_updates == sk.n_updates
        with pytest.raises(SketchStateError):
            QuotientFilter.from_bytes(blob[: len(blob) - 3])  # truncated payload
        with pytest.raises(SketchStateError):
            QuotientFilter.from_bytes(b"PRS1" + blob[4:][:20])

    def test_wide_fingerprint_uses_uint64(self):
        sk = QuotientFilter(200_000_000, 1e-6, max_state_bytes=None)
        assert sk.p > 32 and sk.fps.dtype == np.uint64


SF = "/root/testdata/sf0.001"


@pytest.mark.usefixtures("spark")
class TestSpark:
    def test_build_probe_zero_fn_fpr(self, spark):
        from probabilistic_rs_spark.operators.quotient import (
            build_quotient_state,
            quotient_probe,
        )

        n = 20_000
        members = spark.range(n).select(F.concat(F.lit("q"), F.col("id")).alias("k"))
        state = build_quotient_state(members, "k", capacity=n, false_positive_rate=0.001)
        fn = quotient_probe(members, "k", state).where(~F.col("is_member")).count()
        assert fn == 0
        strangers = spark.range(50_000).select(
            F.concat(F.lit("zz"), F.col("id")).alias("k")
        )
        fp = quotient_probe(strangers, "k", state).where(F.col("is_member")).count()
        assert fp / 50_000 <= 3.0 * 0.001

    def test_build_invariant_to_partitioning(self, spark):
        from probabilistic_rs_spark.operators.quotient import build_quotient_state

        orders = spark.read.parquet(f"{SF}/orders.parquet")
        a = build_quotient_state(orders.coalesce(1), "o_custkey", capacity=20_000)
        b = build_quotient_state(orders.repartition(16), "o_custkey", capacity=20_000)
        assert a == b  # sorted-run union: bit-identical under any layout

    def test_grouped_aggregate_composes(self, spark):
        from probabilistic_rs_spark.operators.sketch_agg import (
            SketchSpec,
            sketch_aggregate,
        )
        from probabilistic_rs_spark.sketches.quotient import QuotientFilter

        ev = spark.read.parquet(f"{SF}/events.parquet")
        agg = sketch_aggregate(
            ev,
            ["event_type"],
            [SketchSpec("users", "quotient", "user_id", {"capacity": 50_000})],
        )
        rows = agg.collect()
        assert rows
        for r in rows:
            qf = QuotientFilter.from_bytes(bytes(r["users_state"]))
            assert qf.n_items == qf.n_updates > 0  # one fp per row absorbed

    def test_distributed_delete_removes_all_occurrences(self, spark):
        from probabilistic_rs_spark.operators.quotient import (
            build_quotient_state,
            quotient_delete,
            quotient_probe,
        )

        # duplicated build rows: set-style delete must still fully remove
        base = spark.range(10_000).select(F.concat(F.lit("e"), F.col("id")).alias("k"))
        built = base.union(base.limit(5_000))
        # fpr tiny so expected FPs over the 400k-stranger feed ≈ 1e-5 —
        # a stranger FP passing the prefilter would (by definition of FP)
        # collide with a stored fingerprint and delete it: the documented
        # QF deletion hazard, sized away here exactly as a production
        # purge pipeline would
        state = build_quotient_state(
            built, "k", capacity=20_000, false_positive_rate=1e-7
        )
        doomed = spark.range(0, 10_000, 2).select(
            F.concat(F.lit("e"), F.col("id")).alias("k")
        )
        # include never-present keys in the feed: prefilter drops them
        feed = doomed.union(
            spark.range(5_000_000, 5_400_000).select(
                F.concat(F.lit("e"), F.col("id")).alias("k")
            )
        )
        state2, removed = quotient_delete(state, feed, "k")
        assert removed >= 5_000  # every even key, incl. duplicated copies
        res = {
            r["k"]: r["is_member"]
            for r in quotient_probe(base, "k", state2).collect()
        }
        assert not any(res[f"e{i}"] for i in range(0, 10_000, 2))
        assert all(res[f"e{i}"] for i in range(1, 10_000, 2))


class TestPartitionedFamily:
    """Round-5 non-broadcast family: fingerprint-prefix shards are
    contiguous slices of the global sorted run — the two families are two
    physical layouts of ONE logical filter."""

    @pytest.fixture(scope="class")
    def built(self, spark):
        from probabilistic_rs_spark.operators.quotient import (
            build_quotient_shards_df,
            build_quotient_state,
        )

        n = 20_000
        keys = spark.range(n).select(F.concat(F.lit("q"), F.col("id")).alias("k")).cache()
        keys.count()
        gstate = build_quotient_state(keys, "k", capacity=n, false_positive_rate=0.001)
        sdf = build_quotient_shards_df(
            keys, "k", capacity=n, false_positive_rate=0.001, shard_bits=4
        ).cache()
        sdf.count()
        return keys, gstate, sdf

    def test_shards_fold_to_global_state_bit_identical(self, built):
        from probabilistic_rs_spark.sketches.quotient import QuotientFilter

        _, gstate, sdf = built
        blobs = [bytes(r["state"]) for r in sdf.orderBy("shard").collect()]
        merged = QuotientFilter.from_bytes(blobs[0])
        for b in blobs[1:]:
            merged.merge_bytes(b)
        assert merged.to_bytes() == gstate

    def test_partitioned_probe_matches_broadcast(self, spark, built):
        from probabilistic_rs_spark.operators.quotient import (
            quotient_partitioned_probe,
            quotient_probe,
        )

        keys, gstate, sdf = built
        probes = keys.union(
            spark.range(20_000).select(F.concat(F.lit("zz"), F.col("id")).alias("k"))
        )
        want = {r["k"]: r["is_member"] for r in quotient_probe(probes, "k", gstate).collect()}
        got = {
            r["k"]: r["is_member"]
            for r in quotient_partitioned_probe(probes, "k", sdf).collect()
        }
        assert got == want

    def test_partitioned_delete_parity_with_driver_delete(self, spark, built):
        from probabilistic_rs_spark.operators.quotient import (
            quotient_delete,
            quotient_delete_df,
            quotient_partitioned_probe,
        )
        from probabilistic_rs_spark.sketches.quotient import QuotientFilter

        keys, gstate, sdf = built
        doomed = keys.where(F.xxhash64("k") % 5 == 0).cache()
        new_sdf = quotient_delete_df(sdf, doomed, "k").cache()
        removed_part = new_sdf.agg(F.sum("n_removed")).head()[0]
        new_gstate, removed_drv = quotient_delete(gstate, doomed, "k")
        assert removed_part == removed_drv
        # folded post-delete shards == driver-deleted state
        blobs = [bytes(r["state"]) for r in new_sdf.orderBy("shard").collect()]
        merged = QuotientFilter.from_bytes(blobs[0])
        for b in blobs[1:]:
            merged.merge_bytes(b)
        assert merged.to_bytes() == new_gstate
        # doomed all gone; survivors present up to the documented set-style
        # deletion hazard (a survivor sharing a doomed key's p-bit
        # fingerprint is removed with it — expected ~n²/2^(p+1) ≈ 6 pairs
        # here, and the driver-family state above is BIT-IDENTICAL so both
        # families removed exactly the same fingerprints)
        out = quotient_partitioned_probe(keys, "k", new_sdf)
        n_surv = out.where("is_member").count()
        exact = keys.count() - doomed.count()
        assert exact - 20 <= n_surv <= exact
        gone = quotient_partitioned_probe(doomed, "k", new_sdf)
        assert gone.where("is_member").count() == 0
        doomed.unpersist()
        new_sdf.unpersist()

    def test_ops_log_fold_generations(self, spark):
        from probabilistic_rs_spark.operators.quotient import (
            quotient_apply_ops_df,
            quotient_partitioned_probe,
        )

        def ops(lo, hi, op):
            return spark.range(lo, hi).select(
                F.lit(op).alias("op"), F.concat(F.lit("q"), F.col("id")).alias("k")
            )

        g1 = quotient_apply_ops_df(
            None, ops(0, 8000, "insert"), "k",
            capacity=20_000, false_positive_rate=1e-8, shard_bits=3,
        ).cache()
        assert g1.agg(F.sum("n_items")).head()[0] == 8000
        dels = ops(0, 8000, "delete").where(F.xxhash64("k") % 4 == 0)
        n_del = dels.count()
        g2 = quotient_apply_ops_df(
            g1, ops(8000, 12_000, "insert").unionByName(dels), "k"
        ).cache()
        assert g2.agg(F.sum("n_items")).head()[0] == 12_000 - n_del
        probes = spark.range(12_000).select(F.concat(F.lit("q"), F.col("id")).alias("k"))
        got = quotient_partitioned_probe(probes, "k", g2).where("is_member").count()
        assert got == 12_000 - n_del  # fpr 1e-8: exact, deterministic
        g1.unpersist()
        g2.unpersist()

    def test_ops_fold_defaults_conflict_and_idempotency(self, spark):
        from probabilistic_rs_spark.operators.quotient import (
            quotient_apply_ops_df,
            quotient_partitioned_probe,
        )

        def ops(lo, hi, op):
            return spark.range(lo, hi).select(
                F.lit(op).alias("op"), F.concat(F.lit("q"), F.col("id")).alias("k")
            )

        g1 = quotient_apply_ops_df(
            None, ops(0, 100, "insert"), "k",
            capacity=1000, false_positive_rate=1e-8, shard_bits=3,
        ).cache()
        # explicit conflicting width raises instead of misrouting
        with pytest.raises(SketchConfigError, match="conflicts"):
            quotient_apply_ops_df(g1, ops(100, 110, "insert"), "k", shard_bits=7)
        # cross-generation re-insert is idempotent; one delete purges
        g2 = quotient_apply_ops_df(g1, ops(0, 50, "insert"), "k").cache()
        assert g2.agg(F.sum("n_items")).head()[0] == 100
        g3 = quotient_apply_ops_df(g2, ops(0, 50, "delete"), "k").cache()
        probes = spark.range(100).select(F.concat(F.lit("q"), F.col("id")).alias("k"))
        assert quotient_partitioned_probe(probes, "k", g3).where("is_member").count() == 50
        # unknown op tag is a loud error, never a collision-hazard delete
        bad = ops(0, 5, "insert").unionByName(ops(5, 6, "Delete"))
        g_bad = quotient_apply_ops_df(None, bad, "k", capacity=100, shard_bits=2)
        with pytest.raises(Exception, match="op tags other than"):
            g_bad.count()
        for df in (g1, g2, g3):
            df.unpersist()

    def test_routing_validation(self, spark, built):
        from probabilistic_rs_spark.errors import SketchConfigError
        from probabilistic_rs_spark.operators.quotient import (
            quotient_partitioned_probe,
        )

        keys, _, sdf = built
        for bad in (12, 1):  # one shard would route by a 64-bit shift
            with pytest.raises(SketchConfigError, match="power of two"):
                quotient_partitioned_probe(keys, "k", sdf, n_shards=bad)
        with pytest.raises(SketchConfigError, match="n_shards"):
            quotient_partitioned_probe(keys, "k", sdf.drop("n_shards"))


class TestGuards:
    def test_capacity_state_budget_guard(self):
        # VERDICT r3 #9: O(n)-state filter — a capacity implying a
        # multi-GB broadcast must fail at construction, before any job
        with pytest.raises(SketchConfigError, match="max_state_bytes"):
            QuotientFilter(100_000_000)  # 400 MB of uint32 fps > 256 MB default
        # explicit budget raise is honored; None disables
        QuotientFilter(100_000_000, max_state_bytes=1 << 30)
        QuotientFilter(100_000_000, max_state_bytes=None)
        # under-budget default path untouched
        QuotientFilter(1_000_000)

    def test_budget_guard_message_names_sizes(self):
        try:
            QuotientFilter(80_000_000, max_state_bytes=1_000_000)
        except SketchConfigError as e:
            msg = str(e)
            # 80M capacity @ 1% → p = 34 bits → 8-byte fingerprints
            assert "640000000 bytes" in msg and "max_state_bytes=1000000" in msg
            assert "partition the keyspace" in msg
        else:  # pragma: no cover
            pytest.fail("expected SketchConfigError")

    def test_from_bytes_trusts_persisted_capacity(self):
        # persisted-config-wins: deserialize is not budget-checked
        sk = QuotientFilter(100_000, 0.01)
        sk.update_hashes(_hashes(1000))
        blob = sk.to_bytes()
        back = QuotientFilter.from_bytes(blob)
        assert back.n_items == 1000


class TestGlobalStrategy:
    """VERDICT r3 #4: build_global_state must not driver-fold O(rows)
    quotient partials just because the partition count is modest."""

    def test_quotient_prefers_bucketed_premerge(self, spark):
        from probabilistic_rs_spark.operators.sketch_agg import (
            SketchSpec,
            _global_strategy,
        )

        df128 = spark.range(0, 10_000).repartition(128)
        qspec = SketchSpec("qf", "quotient", "id", {"capacity": 20_000})
        bspec = SketchSpec("bf", "bloom", "id", {"capacity": 20_000})
        # quotient partials are O(rows): bucketed even at 128 partitions
        assert _global_strategy(df128, qspec, "auto") == 64
        # bounded Bloom partials: 128 partitions still driver-folds
        assert _global_strategy(df128, bspec, "auto") is None
        # trivially small quotient inputs may still driver-fold
        df4 = spark.range(0, 1_000).repartition(4)
        assert _global_strategy(df4, qspec, "auto") is None
        # explicit caller decisions are final for every kind
        assert _global_strategy(df128, qspec, None) is None
        assert _global_strategy(df128, qspec, 16) == 16

    def test_bucketed_and_driver_paths_bit_identical(self, spark):
        from probabilistic_rs_spark.operators.quotient import build_quotient_state

        df = spark.range(0, 20_000).select(
            F.concat(F.lit("k"), F.col("id")).alias("k")
        ).repartition(128)
        via_bucketed = build_quotient_state(df, "k", capacity=40_000)  # auto → bucketed
        via_driver = build_quotient_state(df, "k", capacity=40_000, tree_fanin=None)
        assert via_bucketed == via_driver


class TestNativeProbe:
    """JVM-side bucketized probe (VERDICT r3 #6): identical verdicts to
    the searchsorted kernel, zero Python in the per-row path."""

    def _build(self, spark, n=20_000):
        from probabilistic_rs_spark.operators.quotient import build_quotient_state

        base = spark.range(0, n).select(
            F.concat(F.lit("k"), F.col("id")).alias("k")
        )
        return base, build_quotient_state(base, "k", capacity=2 * n)

    def test_agrees_with_python_kernel_and_zero_fn(self, spark):
        from probabilistic_rs_spark.operators.quotient import (
            native_quotient_probe,
            quotient_probe,
        )

        base, state = self._build(spark)
        probes = base.union(
            spark.range(5_000_000, 5_050_000).select(
                F.concat(F.lit("k"), F.col("id")).alias("k")
            )
        )
        got_native = {
            r["k"]: r["is_member"]
            for r in native_quotient_probe(probes, "k", state).collect()
        }
        got_py = {
            r["k"]: r["is_member"]
            for r in quotient_probe(probes, "k", state).collect()
        }
        assert got_native == got_py
        # zero false negatives on every inserted key
        assert all(got_native[f"k{i}"] for i in range(20_000))

    def test_bucket_width_invariance_and_semi_filter(self, spark):
        from probabilistic_rs_spark.operators.quotient import (
            native_quotient_probe,
            native_quotient_semi_filter,
        )

        base, state = self._build(spark, n=5_000)
        for bits in (4, 10, 30):  # incl. b > p → clamped
            got = {
                r["k"]: r["is_member"]
                for r in native_quotient_probe(
                    base, "k", state, bucket_bits=bits
                ).collect()
            }
            assert all(got.values()) and len(got) == 5_000
        kept = native_quotient_semi_filter(base, "k", state).count()
        assert kept == 5_000

    def test_probe_plan_is_jvm_only(self, spark):
        from probabilistic_rs_spark.operators.quotient import native_quotient_probe

        base, state = self._build(spark, n=2_000)
        plan = native_quotient_probe(base, "k", state)._jdf.queryExecution().executedPlan().toString()
        for marker in ("ArrowEvalPython", "BatchEvalPython", "FlatMapsInPandas", "MapInPandas"):
            assert marker not in plan, f"python boundary in probe plan: {marker}"


def test_native_probe_wide_fingerprints_p_over_32(spark):
    """p > 32 → uint64 fingerprints stored as int64 BIT PATTERNS in the
    broadcast buckets; the JVM expression must agree on every verdict
    (the sign-bit path the int64-view comment in _quotient_buckets
    promises)."""
    from probabilistic_rs_spark.operators.quotient import (
        build_quotient_state,
        native_quotient_probe,
        quotient_probe,
    )
    from probabilistic_rs_spark.sketches.quotient import QuotientFilter

    base = spark.range(0, 4_000).select(
        F.concat(F.lit("w"), F.col("id")).alias("k")
    )
    # tiny fpr forces r up → p = q + r > 32
    state = build_quotient_state(base, "k", capacity=8_000, false_positive_rate=1e-7)
    assert QuotientFilter.from_bytes(state).p > 32
    probes = base.union(
        spark.range(7_000_000, 7_020_000).select(
            F.concat(F.lit("w"), F.col("id")).alias("k")
        )
    )
    a = {r["k"]: r["is_member"] for r in quotient_probe(probes, "k", state).collect()}
    b = {r["k"]: r["is_member"] for r in native_quotient_probe(probes, "k", state).collect()}
    assert a == b
    assert all(b[f"w{i}"] for i in range(4_000))
