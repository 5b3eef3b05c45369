"""Physical-plan hygiene: the properties that matter at 100 TB must be
visible in the executed plan, not just assumed — column pruning reaching
the parquet scan, predicate pushdown, broadcast probes with no exchange,
and no cartesian products in candidate-generation joins."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestScanHygiene:
    def test_sketch_build_prunes_unread_columns(self, spark):
        """The north-star single-pass job must NOT read `html` (the
        widest column): explicit select before mapInArrow puts only the
        4 needed columns in ReadSchema."""
        from probabilistic_rs_spark.operators.sketch_agg import SketchSpec, sketch_partials

        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        proj = li.select("l_orderkey", "l_extendedprice")
        partials = sketch_partials(
            proj, [], [SketchSpec("h", "hll", "l_orderkey", {"p": 12})]
        )
        plan = _executed(partials)
        assert "l_orderkey" in plan
        # pruned: the scan schema must not include unused wide columns
        scan_line = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert scan_line, plan
        assert "l_comment" not in scan_line[0] and "l_shipdate" not in scan_line[0]

    def test_filter_pushdown_reaches_scan(self, spark):
        orders = spark.read.parquet(f"{SF}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        plan = _executed(orders.select("o_orderkey"))
        assert "PushedFilters: [IsNotNull(o_orderpriority), EqualTo(o_orderpriority,1-URGENT)" in plan

    def test_bloom_probe_plan_has_no_exchange(self, spark):
        """The broadcast probe is map-side only: zero shuffles in the
        probe stage (the filter state rides a broadcast variable)."""
        from probabilistic_rs_spark.operators.membership import bloom_probe, build_bloom_state

        orders = spark.read.parquet(f"{SF}/orders.parquet")
        state = build_bloom_state(orders, "o_orderkey", capacity=50_000)
        probed = bloom_probe(orders.select("o_orderkey"), "o_orderkey", state)
        plan = _executed(probed)
        assert "Exchange" not in plan

    def test_simhash_and_lsh_joins_are_not_cartesian(self, spark):
        from probabilistic_rs_spark.operators.dedup import simhash_pairs

        docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
        plan = _executed(simhash_pairs(docs, "doc_id", "text", max_hamming=4))
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    def test_partitioned_probe_shuffles_keys_not_states_everywhere(self, spark):
        """The non-broadcast membership path (round 5): the plan must
        contain NO broadcast exchange (states never fan out to every
        task) and NO cartesian product — both sides hash-shuffle on the
        shard key into the cogroup (FlatMapCoGroups...)."""
        from probabilistic_rs_spark.operators.cuckoo import (
            build_cuckoo_shards_df,
            cuckoo_partitioned_probe,
        )

        orders = spark.read.parquet(f"{SF}/orders.parquet")
        states = build_cuckoo_shards_df(orders, "o_custkey", capacity=50_000, n_shards=8)
        probed = cuckoo_partitioned_probe(
            orders.select("o_custkey"), "o_custkey", states, n_shards=8
        )
        plan = _executed(probed)
        assert "BroadcastExchange" not in plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
        assert "CoGroup" in plan  # cogrouped shard join, not a row join
        # both sides reach the cogroup through hash partitioning on the
        # shard key (an Exchange each) — the only exchanges in the plan
        assert plan.count("Exchange hashpartitioning") >= 2

    def test_quotient_partitioned_probe_same_plan_shape(self, spark):
        from probabilistic_rs_spark.operators.quotient import (
            build_quotient_shards_df,
            quotient_partitioned_probe,
        )

        orders = spark.read.parquet(f"{SF}/orders.parquet")
        states = build_quotient_shards_df(
            orders, "o_custkey", capacity=50_000, shard_bits=3
        )
        probed = quotient_partitioned_probe(
            orders.select("o_custkey"), "o_custkey", states, n_shards=8
        )
        plan = _executed(probed)
        assert "BroadcastExchange" not in plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
        assert "CoGroup" in plan

    def test_global_sample_uses_distributed_topk(self, spark):
        from probabilistic_rs_spark.operators.sampling import hash_reservoir_sample

        orders = spark.read.parquet(f"{SF}/orders.parquet")
        s = hash_reservoir_sample(orders, "o_orderkey", k=10)
        plan = _executed(s)
        # Catalyst compiles orderBy+limit to TakeOrderedAndProject —
        # per-partition top-k, never a global sort of all rows
        assert "TakeOrderedAndProject" in plan
        assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


class TestHashKeyedProbeShuffles:
    """Round 6b: the windowed-Bloom and CMS block probes key every
    probe-side exchange on the verdict-defining HASHES (fixed 8–16 B),
    never on item/key values — visible in the executed plan: exchanges
    hash-partition on the internal hash columns and no exchange
    partitions on the item column."""

    @staticmethod
    def _exchange_lines(plan: str) -> list[str]:
        return [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]

    def test_windowed_probe_exchanges_key_on_km_pair(self, spark):
        from probabilistic_rs_spark.operators.windowed_bloom import (
            build_windowed_bloom_blocks_df,
            windowed_bloom_partitioned_probe,
        )

        ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
            "day", F.dayofyear("ts").cast("long")
        )
        blocks = build_windowed_bloom_blocks_df(
            ev, "day", "user_id", capacity_per_level=50_000, words_per_block=256
        ).persist()
        try:
            blocks.count()
            probed = windowed_bloom_partitioned_probe(
                ev.select("user_id"), "user_id", blocks, num_levels=3
            )
            plan = _executed(probed)
            exch = self._exchange_lines(plan)
            assert any("__wbh1" in ln for ln in exch), plan[:2000]
            assert not any("user_id" in ln for ln in exch), exch
        finally:
            blocks.unpersist()

    def test_cms_probe_exchanges_key_on_hash(self, spark):
        from probabilistic_rs_spark.operators.heavy_hitters import (
            build_cms_blocks_df,
            cms_partitioned_probe,
        )

        ev = spark.read.parquet(f"{SF}/events.parquet")
        blocks = build_cms_blocks_df(
            ev, "event_type", eps=0.01, delta=0.1, cells_per_block=64
        ).persist()
        try:
            blocks.count()
            # no caller-side distinct: the probe dedups internally on the
            # hash, so the only exchanges in the plan are the probe's own
            probed = cms_partitioned_probe(
                ev.select("event_type"), "event_type", blocks
            )
            plan = _executed(probed)
            exch = self._exchange_lines(plan)
            assert any("__cmsph" in ln for ln in exch), plan[:2000]
            assert not any("event_type" in ln for ln in exch), exch
        finally:
            blocks.unpersist()


class TestRound7FamilyPlans:
    def test_theta_overlap_state_join_is_broadcast_not_cartesian(self, spark):
        """theta_overlap joins the per-group STATE table to itself (≤ one
        row per group, ≤ 8k bytes each): the join must be a broadcast
        nested-loop over the tiny relation — never a CartesianProduct —
        and the expensive input scan must appear exactly twice or less
        (the build; never once per pair)."""
        from probabilistic_rs_spark.operators.set_ops import theta_overlap, theta_states

        ev = spark.read.parquet(f"{SF}/events.parquet")
        states = theta_states(ev, "user_id", ["event_type"], k=256)
        out = theta_overlap(states, ["event_type"])
        plan = _executed(out)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    def test_theta_build_prunes_to_needed_columns(self, spark):
        from probabilistic_rs_spark.operators.set_ops import theta_states

        ev = spark.read.parquet(f"{SF}/events.parquet")
        states = theta_states(ev, "user_id", ["event_type"], k=256)
        scan_line = [l for l in _executed(states).splitlines() if "ReadSchema" in l]
        assert scan_line
        schema = scan_line[0].split("ReadSchema:", 1)[1].strip()
        assert schema == "struct<user_id:bigint,event_type:string>", schema

    def test_mg_build_is_single_scan_single_state_shuffle(self, spark):
        """mg_topk: one parquet scan, one Exchange (the state shuffle to
        the merge stage) — the explode of merged states adds no further
        exchange."""
        from probabilistic_rs_spark.operators.heavy_hitters import mg_topk

        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        out = mg_topk(li, "l_suppkey", k=1024, threshold=1)
        plan = _executed(out)
        assert plan.count("Scan parquet") == 1
        # AQE may stage the single shuffle; there must be no second
        # logical exchange beyond the partials->merge hashpartitioning
        assert plan.count("Exchange hashpartitioning") <= 1
        scan_line = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert scan_line and "l_comment" not in scan_line[0]


class TestMergeShape:
    def test_sketch_merge_is_one_arrow_group_map_per_level(self, spark):
        """The merge runs as Arrow group maps: one per reduce level (two
        with a ``tree_fanin`` pre-merge) and no pandas group map."""
        from probabilistic_rs_spark.operators.sketch_agg import SketchSpec, sketch_aggregate

        orders = spark.read.parquet(f"{SF}/orders.parquet")
        spec = SketchSpec("h", "hll", "o_custkey", {"p": 10})
        for fanin, n_maps in ((None, 1), (2, 2)):
            plan = _executed(
                sketch_aggregate(orders, ["o_orderpriority"], [spec], tree_fanin=fanin)
            )
            assert plan.count("FlatMapGroupsInArrow") == n_maps, plan
            assert "FlatMapGroupsInPandas" not in plan, plan

    def test_block_builds_are_one_arrow_map_and_one_arrow_group_map(self, spark):
        """Both packed-block builds run one ``MapInArrow`` partial stage
        and one Arrow group-map scatter, and no pandas group map."""
        from probabilistic_rs_spark.operators.heavy_hitters import build_cms_blocks_df
        from probabilistic_rs_spark.operators.windowed_bloom import (
            build_windowed_bloom_blocks_df,
        )

        orders = spark.read.parquet(f"{SF}/orders.parquet")
        for blocks in (
            build_windowed_bloom_blocks_df(
                orders, "o_orderpriority", "o_custkey", capacity_per_level=1000
            ),
            build_cms_blocks_df(orders, "o_custkey", eps=0.01, delta=0.01),
        ):
            plan = _executed(blocks)
            assert len(re.findall(r"\bMapInArrow\b", plan)) == 1, plan
            assert plan.count("FlatMapGroupsInArrow") == 1, plan
            assert "FlatMapGroupsInPandas" not in plan, plan

    def test_states_to_blocks_is_one_arrow_map(self, spark):
        """The window-states explode runs as a ``MapInArrow``, and no
        pandas map is left in the plan."""
        from probabilistic_rs_spark.operators.sketch_agg import SketchSpec, sketch_aggregate
        from probabilistic_rs_spark.operators.windowed_bloom import (
            windowed_states_to_blocks_df,
        )

        orders = spark.read.parquet(f"{SF}/orders.parquet")
        spec = SketchSpec("bloom", "nbloom", "o_custkey", {"capacity": 1000})
        states = sketch_aggregate(orders, ["o_orderpriority"], [spec])
        plan = _executed(
            windowed_states_to_blocks_df(
                states.withColumnRenamed("o_orderpriority", "window_start")
            )
        )
        assert "MapInArrow explode(" in plan, plan
        assert "MapInPandas" not in plan, plan

    def test_shard_families_are_one_arrow_group_map_or_cogroup(self, spark):
        """Both fingerprint shard families build with one Arrow group map,
        and probe, delete and fold ops with one Arrow cogroup each; no
        pandas group map or cogroup is left."""
        from probabilistic_rs_spark.operators.cuckoo import (
            build_cuckoo_shards_df,
            cuckoo_apply_ops_df,
            cuckoo_delete_df,
            cuckoo_partitioned_probe,
        )
        from probabilistic_rs_spark.operators.quotient import (
            build_quotient_shards_df,
            quotient_apply_ops_df,
            quotient_delete_df,
            quotient_partitioned_probe,
        )

        keys = spark.read.parquet(f"{SF}/orders.parquet").select(
            F.col("o_orderkey").alias("key")
        )
        ops = keys.select(F.lit("insert").alias("op"), "key")
        families = (
            (
                build_cuckoo_shards_df(keys, "key", capacity=10_000, n_shards=8),
                cuckoo_partitioned_probe, cuckoo_delete_df, cuckoo_apply_ops_df,
            ),
            (
                build_quotient_shards_df(keys, "key", capacity=10_000, shard_bits=3),
                quotient_partitioned_probe, quotient_delete_df, quotient_apply_ops_df,
            ),
        )
        for states, probe, delete, apply_ops in families:
            plan = _executed(states)
            assert plan.count("FlatMapGroupsInArrow") == 1, plan
            assert "FlatMapGroupsInPandas" not in plan, plan
            for df in (
                probe(keys, "key", states, n_shards=8),
                delete(states, keys, "key", n_shards=8),
                apply_ops(states, ops, "key"),
            ):
                plan = _executed(df)
                assert plan.count("FlatMapCoGroupsInArrow") == 1, plan
                assert "FlatMapCoGroupsInPandas" not in plan, plan

    def test_cms_heavy_hitters_merge_is_arrow_group_maps(self, spark):
        """The heavy-hitter finish runs as one Arrow group map, two with
        a ``tree_fanin`` pre-merge, and no pandas group map."""
        from probabilistic_rs_spark.operators.heavy_hitters import cms_heavy_hitters

        orders = spark.read.parquet(f"{SF}/orders.parquet")
        for fanin, n_maps in ((None, 1), (2, 2)):
            plan = _executed(
                cms_heavy_hitters(orders, "o_custkey", eps=0.01, delta=0.01, tree_fanin=fanin)
            )
            assert plan.count("FlatMapGroupsInArrow") == n_maps, plan
            assert "FlatMapGroupsInPandas" not in plan, plan
