"""Round-5 scale-hardening tests (VERDICT r4 #1/#3, ADVICE r4 #1):

* byte-budget guard on the broadcast cuckoo build;
* the partitioned (non-broadcast) build/probe/delete family — verdicts
  identical to the broadcast family on the same keys;
* wire-tag dispatch in ``_filter_from_bytes`` (no exception-text matching);
* oldest-only LRU eviction in the probe-family memo caches.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from probabilistic_rs_spark.errors import SketchConfigError, SketchStateError
from probabilistic_rs_spark.operators.cuckoo import (
    _filter_from_bytes,
    build_cuckoo_shards,
    build_cuckoo_shards_df,
    cuckoo_delete_df,
    cuckoo_partitioned_probe,
    cuckoo_probe,
)
from probabilistic_rs_spark.operators.quotient import (
    build_quotient_shards_df,
    quotient_partitioned_probe,
)


def _keys_df(spark, n, prefix="k"):
    return spark.range(n).select(
        F.concat(F.lit(prefix), F.col("id")).alias("key")
    )


class TestBudgetGuard:
    def test_oversized_broadcast_build_rejected_driver_side(self, spark):
        with pytest.raises(SketchConfigError, match="max_state_bytes"):
            build_cuckoo_shards(
                _keys_df(spark, 10), "key", capacity=5_000_000_000, n_shards=32
            )

    def test_explicit_budget_override_honored(self, spark):
        states = build_cuckoo_shards(
            _keys_df(spark, 1000), "key", capacity=1000, n_shards=4,
            max_state_bytes=None,
        )
        assert len(states) == 4

    def test_df_build_has_no_budget(self, spark):
        # the partitioned family is exactly the path the guard points at:
        # no driver collect, so no byte budget applies
        sdf = build_cuckoo_shards_df(
            _keys_df(spark, 500), "key", capacity=5_000_000_000, n_shards=4096
        )
        assert set(sdf.columns) == {"shard", "state", "n_items", "n_shards"}


class TestPartitionedFamily:
    @pytest.fixture(scope="class")
    def built(self, spark):
        keys = _keys_df(spark, 20_000).cache()
        keys.count()
        states_list = build_cuckoo_shards(keys, "key", capacity=20_000, n_shards=8)
        states_df = build_cuckoo_shards_df(
            keys, "key", capacity=20_000, n_shards=8
        ).cache()
        states_df.count()
        return keys, states_list, states_df

    def test_states_identical_to_broadcast_build(self, spark, built):
        _, states_list, states_df = built
        rows = {int(r["shard"]): bytes(r["state"]) for r in states_df.collect()}
        for shard, blob in rows.items():
            assert blob == states_list[shard]

    def test_partitioned_probe_matches_broadcast_probe(self, spark, built):
        keys, states_list, states_df = built
        probes = keys.union(_keys_df(spark, 20_000, prefix="absent")).cache()
        bcast = {
            r["key"]: r["is_member"]
            for r in cuckoo_probe(probes, "key", states_list).collect()
        }
        part = {
            r["key"]: r["is_member"]
            for r in cuckoo_partitioned_probe(probes, "key", states_df).collect()
        }
        assert part == bcast
        assert all(part[f"k{i}"] for i in range(0, 20_000, 997))  # zero FN

    @pytest.mark.parametrize("family", ["cuckoo", "quotient"])
    def test_extra_probe_columns_pass_through(self, spark, family):
        # one cuckoo shard (two quotient prefix shards) holds every key, so
        # nulls and longs above 2^53 share a cogroup: each carried column
        # must come back exactly, not through a float64 widening
        keys = _keys_df(spark, 100)
        if family == "cuckoo":
            states_df = build_cuckoo_shards_df(keys, "key", capacity=100, n_shards=1)
            probe = cuckoo_partitioned_probe
        else:
            states_df = build_quotient_shards_df(keys, "key", capacity=100, shard_bits=1)
            probe = quotient_partitioned_probe
        big = F.lit(9007199254740993) + F.col("id")  # 2^53 + 1 + id
        probes = spark.range(100).select(
            F.concat(F.lit("k"), F.col("id")).alias("key"),
            F.length(F.concat(F.lit("k"), F.col("id"))).alias("payload"),
            F.when(F.col("id") % 3 == 0, None).otherwise(big).cast("bigint").alias("big"),
        )
        expected = {r["key"]: (r["payload"], r["big"]) for r in probes.collect()}
        out = probe(probes, "key", states_df)
        assert out.columns == ["key", "payload", "big", "is_member"]
        rows = out.collect()
        assert {r["key"]: (r["payload"], r["big"]) for r in rows} == expected
        assert len(rows) == 100 and all(r["is_member"] for r in rows)

    def test_n_shards_mismatch_and_missing_column(self, spark, built):
        _, _, states_df = built
        probes = _keys_df(spark, 10)
        with pytest.raises(SketchConfigError, match="n_shards"):
            cuckoo_partitioned_probe(
                probes, "key", states_df.drop("n_shards")
            )
        # explicit n_shards on a column-less table still works
        out = cuckoo_partitioned_probe(
            probes, "key", states_df.drop("n_shards"), n_shards=8
        )
        assert out.where("is_member").count() == 10

    def test_partitioned_delete_roundtrip(self, spark, built):
        keys, _, states_df = built
        doomed = keys.where(F.xxhash64("key") % 3 == 0)
        n_doomed = doomed.count()
        new_states = cuckoo_delete_df(states_df, doomed, "key").cache()
        removed = new_states.agg(F.sum("n_removed")).head()[0]
        assert removed == n_doomed
        out = cuckoo_partitioned_probe(keys, "key", new_states)
        survivors = out.where("is_member").count()
        assert survivors == 20_000 - n_doomed
        # deleted keys individually absent (zero FN on survivors already
        # implied by the exact count at 24-bit fingerprints)
        gone = cuckoo_partitioned_probe(doomed, "key", new_states)
        assert gone.where("is_member").count() == 0
        new_states.unpersist()

    def test_delete_keys_to_absent_shard_are_noop(self, spark):
        # 64 shards over 40 keys: some delete keys route to shards with
        # no state row — they were never inserted, so nothing happens
        keys = _keys_df(spark, 40)
        sdf = build_cuckoo_shards_df(keys, "key", capacity=40, n_shards=64).cache()
        absent = _keys_df(spark, 500, prefix="ghost")
        new_states = cuckoo_delete_df(sdf, absent, "key")
        assert new_states.agg(F.sum("n_removed")).head()[0] == 0
        out = cuckoo_partitioned_probe(keys, "key", new_states)
        assert out.where("is_member").count() == 40
        sdf.unpersist()

    def test_probe_no_state_shard_not_member(self, spark):
        # 64 shards over 40 keys: most shards have no state row
        keys = _keys_df(spark, 40)
        sdf = build_cuckoo_shards_df(keys, "key", capacity=40, n_shards=64)
        probes = _keys_df(spark, 2000, prefix="other")
        out = cuckoo_partitioned_probe(probes, "key", sdf)
        assert out.count() == 2000  # every probe row answered


class TestOpsLogFold:
    def test_generations_fold_and_probe(self, spark):
        from probabilistic_rs_spark.operators.cuckoo import cuckoo_apply_ops_df

        def ops(lo, hi, op):
            return spark.range(lo, hi).select(
                F.lit(op).alias("op"), F.concat(F.lit("k"), F.col("id")).alias("key")
            )

        # gen 1: insert 0..9999 from an EMPTY state
        g1 = cuckoo_apply_ops_df(
            None, ops(0, 10_000, "insert"), "key", capacity=20_000, n_shards=8
        ).cache()
        assert g1.agg(F.sum("n_items")).head()[0] == 10_000
        # gen 2: insert 10000..14999, delete every key ending in pattern
        dels = ops(0, 10_000, "delete").where(F.xxhash64("key") % 4 == 0)
        n_del = dels.count()
        g2 = cuckoo_apply_ops_df(
            g1, ops(10_000, 15_000, "insert").unionByName(dels), "key",
            capacity=20_000, n_shards=8,
        ).cache()
        assert g2.agg(F.sum("n_items")).head()[0] == 15_000 - n_del
        survivors = cuckoo_partitioned_probe(
            _keys_df(spark, 15_000), "key", g2
        ).where("is_member")
        assert survivors.count() == 15_000 - n_del
        gone = cuckoo_partitioned_probe(
            dels.select("key"), "key", g2
        ).where("is_member")
        assert gone.count() == 0
        g1.unpersist()
        g2.unpersist()

    def test_same_generation_insert_then_delete_absent(self, spark):
        from probabilistic_rs_spark.operators.cuckoo import cuckoo_apply_ops_df

        both = spark.range(100).select(
            F.lit("insert").alias("op"), F.concat(F.lit("x"), F.col("id")).alias("key")
        ).unionByName(
            spark.range(50).select(
                F.lit("delete").alias("op"), F.concat(F.lit("x"), F.col("id")).alias("key")
            )
        )
        g = cuckoo_apply_ops_df(None, both, "key", capacity=1000, n_shards=4)
        probes = spark.range(100).select(F.concat(F.lit("x"), F.col("id")).alias("key"))
        members = cuckoo_partitioned_probe(probes, "key", g).where("is_member")
        assert members.count() == 50  # ids 50..99 survive

    def test_chains_with_build_output(self, spark):
        from probabilistic_rs_spark.operators.cuckoo import cuckoo_apply_ops_df

        keys = _keys_df(spark, 5000)
        built = build_cuckoo_shards_df(keys, "key", capacity=10_000, n_shards=8).cache()
        extra = spark.range(5000, 6000).select(
            F.lit("insert").alias("op"), F.concat(F.lit("k"), F.col("id")).alias("key")
        )
        g = cuckoo_apply_ops_df(built, extra, "key", capacity=10_000, n_shards=8)
        out = cuckoo_partitioned_probe(_keys_df(spark, 6000), "key", g)
        assert out.where("is_member").count() == 6000
        built.unpersist()


class TestFoldShardModulus:
    """VERDICT r5 #1 / ADVICE r5: the fold must read the states' own
    n_shards column when the parameter is omitted (the old default-32
    short-circuit silently misrouted every op on a non-32-shard table),
    raise on an explicit conflict, validate op tags, and apply inserts
    idempotently across generations."""

    def _ops(self, spark, lo, hi, op, prefix="k"):
        return spark.range(lo, hi).select(
            F.lit(op).alias("op"),
            F.concat(F.lit(prefix), F.col("id")).alias("key"),
        )

    def test_fold_with_defaults_reads_states_modulus(self, spark):
        from probabilistic_rs_spark.operators.cuckoo import cuckoo_apply_ops_df

        # the exact latent-bug scenario: 64-shard table, fold with DEFAULTS
        built = build_cuckoo_shards_df(
            _keys_df(spark, 4000), "key", capacity=8000, n_shards=64
        ).cache()
        g = cuckoo_apply_ops_df(built, self._ops(spark, 4000, 5000, "insert"), "key").cache()
        assert g.agg(F.max("n_shards")).head()[0] == 64  # modulus preserved
        members = cuckoo_partitioned_probe(_keys_df(spark, 5000), "key", g)
        assert members.where("is_member").count() == 5000  # upper shards intact
        built.unpersist()
        g.unpersist()

    def test_fold_conflicting_n_shards_raises(self, spark):
        from probabilistic_rs_spark.operators.cuckoo import cuckoo_apply_ops_df

        built = build_cuckoo_shards_df(
            _keys_df(spark, 1000), "key", capacity=4000, n_shards=64
        )
        with pytest.raises(SketchConfigError, match="conflicts"):
            cuckoo_apply_ops_df(
                built, self._ops(spark, 0, 10, "insert"), "key", n_shards=32
            )

    def test_cross_generation_reinsert_idempotent_then_purged(self, spark):
        from probabilistic_rs_spark.operators.cuckoo import cuckoo_apply_ops_df

        # ADVICE r5 medium: re-insert in a later generation must not store
        # a second fingerprint copy that one delete would fail to purge
        g1 = cuckoo_apply_ops_df(
            None, self._ops(spark, 0, 100, "insert"), "key", capacity=1000, n_shards=4
        ).cache()
        g2 = cuckoo_apply_ops_df(g1, self._ops(spark, 0, 50, "insert"), "key").cache()
        assert g2.agg(F.sum("n_items")).head()[0] == 100  # no duplicate copies
        g3 = cuckoo_apply_ops_df(g2, self._ops(spark, 0, 50, "delete"), "key").cache()
        members = cuckoo_partitioned_probe(_keys_df(spark, 100), "key", g3)
        assert members.where("is_member").count() == 50  # single delete purged
        for df in (g1, g2, g3):
            df.unpersist()

    @pytest.mark.parametrize("family", ["cuckoo", "quotient"])
    @pytest.mark.parametrize("tag", ["upsert", None])
    def test_unknown_op_tag_raises(self, spark, family, tag):
        from probabilistic_rs_spark.operators.cuckoo import cuckoo_apply_ops_df
        from probabilistic_rs_spark.operators.quotient import quotient_apply_ops_df

        bad = self._ops(spark, 0, 10, "insert").unionByName(
            self._ops(spark, 10, 12, "insert").withColumn(
                "op", F.lit(tag).cast("string")
            )
        )
        if family == "cuckoo":
            g = cuckoo_apply_ops_df(None, bad, "key", capacity=1000, n_shards=4)
        else:
            g = quotient_apply_ops_df(None, bad, "key", capacity=1000, shard_bits=2)
        with pytest.raises(Exception, match="op tags other than"):
            g.count()


class TestWireTagDispatch:
    def test_dispatch_by_tag_not_message(self, spark):
        from probabilistic_rs_spark.sketches.cuckoo import (
            CuckooFilter,
            NativeCuckooFilter,
        )

        assert isinstance(_filter_from_bytes(CuckooFilter(100).to_bytes()), CuckooFilter)
        nf = _filter_from_bytes(NativeCuckooFilter(100).to_bytes())
        assert isinstance(nf, NativeCuckooFilter)

    def test_non_cuckoo_blob_honest_error(self):
        from probabilistic_rs_spark.sketches.hll import HyperLogLog

        with pytest.raises(SketchConfigError, match="not a cuckoo state"):
            _filter_from_bytes(HyperLogLog(p=10).to_bytes())

    def test_corrupt_blob_surfaces_state_error(self):
        with pytest.raises(SketchStateError):
            _filter_from_bytes(b"XX")


class TestLruEviction:
    def test_oldest_only_eviction(self):
        from probabilistic_rs_spark.common import lru_evict

        released = []
        cache = {i: i for i in range(17)}
        lru_evict(cache, 16, released.append)
        assert released == [0]
        assert list(cache) == list(range(1, 17))

    def test_release_failure_swallowed(self):
        from probabilistic_rs_spark.common import lru_evict

        def boom(_):
            raise RuntimeError("unpersist failed")

        cache = {i: i for i in range(5)}
        lru_evict(cache, 2, boom)
        assert list(cache) == [3, 4]

    def test_shard_broadcast_memo_keeps_hot_entries(self, spark, monkeypatch):
        # bound + 1 interleaved probe families on the shared broadcast
        # memo: only the single oldest broadcast is evicted, and it is
        # unpersisted; the hot ones keep their memo entries (VERDICT r4
        # #3 'done' criterion)
        from pyspark.broadcast import Broadcast

        from probabilistic_rs_spark import common

        released = []
        unpersist = Broadcast.unpersist

        def spy(bc, *args, **kwargs):
            released.append(bc)
            return unpersist(bc, *args, **kwargs)

        monkeypatch.setattr(Broadcast, "unpersist", spy)
        common._BROADCASTS.clear()
        sc = spark.sparkContext
        bound = common.BROADCAST_MEMO_MAX
        families = [[bytes([i]) * 64] for i in range(bound + 1)]
        entries = [common.broadcast_state(sc, fam)[1] for fam in families]
        assert len(common._BROADCASTS) == bound
        assert released == [entries[0]]
        # oldest (family 0) evicted; families 1..bound still memoized
        for fam, entry in zip(families[1:], entries[1:]):
            assert common.broadcast_state(sc, fam)[1] is entry
        assert common.broadcast_state(sc, families[0])[1] is not entries[0]
        common._BROADCASTS.clear()


class TestWindowedBloomBudget:
    def test_construction_guard(self, spark):
        from probabilistic_rs_spark.operators.windowed_bloom import (
            windowed_bloom_states,
        )

        df = spark.range(10).select(
            F.lit("2024-01-01").cast("timestamp").alias("ts"),
            F.col("id").cast("string").alias("item"),
        )
        with pytest.raises(SketchConfigError, match="max_broadcast_bytes"):
            # m ~ 9.6e8 bits (120 MB/level, x3 levels > 256 MiB budget)
            # while staying under the uint32 m cap
            windowed_bloom_states(
                df, "ts", "item", capacity_per_level=100_000_000
            )

    def test_probe_guard_and_override(self, spark):
        from probabilistic_rs_spark.operators.windowed_bloom import (
            native_probe_recent,
            probe_recent,
            windowed_bloom_states,
        )

        df = spark.range(50).select(
            F.lit("2024-01-01").cast("timestamp").alias("ts"),
            F.concat(F.lit("u"), F.col("id")).alias("item"),
        )
        states = windowed_bloom_states(
            df, "ts", "item", capacity_per_level=1000, engine="native"
        )
        levels = [
            (r["window_start"], r["window_end"], bytes(r["bloom_state"]))
            for r in states.collect()
        ]
        probes = df.select("item")
        with pytest.raises(SketchConfigError, match="max_broadcast_bytes"):
            native_probe_recent(probes, "item", levels, max_broadcast_bytes=16)
        with pytest.raises(SketchConfigError, match="max_broadcast_bytes"):
            probe_recent(probes, "item", levels, max_broadcast_bytes=16)
        out = native_probe_recent(probes, "item", levels, max_broadcast_bytes=None)
        assert out.where("is_member").count() == 50


class TestShardModulusConflict:
    """Round 6b: an explicitly passed n_shards that disagrees with the
    states' self-describing column raises from inside the cogroup
    (task-side — no driver-side verification scan that would re-execute
    an unpersisted build plan) instead of silently misrouting probes."""

    def test_probe_with_wrong_modulus_raises(self, spark):
        from probabilistic_rs_spark.errors import SketchConfigError
        from probabilistic_rs_spark.operators.cuckoo import (
            build_cuckoo_shards_df,
            cuckoo_partitioned_probe,
        )

        df = spark.range(2000).selectExpr("concat('k', id) AS key")
        states = build_cuckoo_shards_df(df, "key", capacity=10_000, n_shards=8)
        with pytest.raises(Exception, match="conflicts with the states"):
            cuckoo_partitioned_probe(df, "key", states, n_shards=16).collect()
        # matching explicit value still fine
        n = (
            cuckoo_partitioned_probe(df, "key", states, n_shards=8)
            .where("is_member").count()
        )
        assert n == 2000
        # SketchConfigError is the root cause surfaced through the task
        try:
            from probabilistic_rs_spark.operators.cuckoo import cuckoo_delete_df

            cuckoo_delete_df(states, df.limit(10), "key", n_shards=4).collect()
            raise AssertionError("expected a shard-modulus conflict")
        except Exception as e:  # Py4J wraps the executor exception
            assert "conflicts with the states" in str(e)

    def test_quotient_probe_with_wrong_modulus_raises(self, spark):
        from probabilistic_rs_spark.operators.quotient import (
            build_quotient_shards_df,
            quotient_partitioned_probe,
        )

        df = spark.range(2000).selectExpr("concat('k', id) AS key")
        states = build_quotient_shards_df(df, "key", capacity=10_000, shard_bits=3)
        with pytest.raises(Exception, match="conflicts with the states"):
            quotient_partitioned_probe(df, "key", states, n_shards=16).collect()
        n = (
            quotient_partitioned_probe(df, "key", states, n_shards=8)
            .where("is_member").count()
        )
        assert n == 2000
