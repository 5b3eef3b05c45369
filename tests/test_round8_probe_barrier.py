"""Round-8 probe-plan regression gates.

The native (JVM-expression) probes wrap their output column in
``pushdown_barrier`` so a downstream filter cannot inline the probe
expression into the broadcast join's condition — join conditions are
generated without whole-stage codegen's common-subexpression
elimination, and the inlined form re-evaluated the shared KM hash
chains per reference per row (measured 4.1 s vs 0.58 s over 10^6
count-sketch probes). These tests pin (a) the barrier's value identity
and (b) the plan shape: after a filter on the probe output, the join
carries NO condition — the expression lives in a Project and the
Filter reads the materialized column.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT as SF


def _final_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


class TestPushdownBarrier:
    def test_value_identity_long_and_boolean(self, spark):
        from probabilistic_rs_spark.operators.sketch_agg import pushdown_barrier

        df = spark.range(1000).select(
            F.col("id"), (F.col("id") % 7).alias("v"), (F.col("id") % 2 == 0).alias("b")
        )
        out = df.select(
            "id",
            pushdown_barrier(F.col("v") * 3 + 1).alias("lv"),
            pushdown_barrier(F.col("b"), boolean=True).alias("bv"),
        ).collect()
        for r in out:
            assert r["lv"] == (r["id"] % 7) * 3 + 1
            assert r["bv"] == (r["id"] % 2 == 0)

    def test_native_cs_probe_filter_not_inlined_into_join(self, spark):
        from probabilistic_rs_spark.operators.moments import (
            build_cs_state,
            native_cs_probe,
        )

        ev = spark.read.parquet(f"{SF}/events.parquet")
        state = build_cs_state(ev, "event_type", eps=0.05, delta=0.01)
        q = native_cs_probe(ev.select("event_type").distinct(), "event_type", state)
        plan = _final_plan(q.where(F.col("est_count") > 0))
        join_lines = [
            ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln
        ]
        assert join_lines, plan[:1500]
        # condition-free cross join: the median network must NOT appear
        # in the join line (it lives in a Project above, where codegen
        # CSE applies)
        assert not any("least(" in ln or "xxhash64" in ln for ln in join_lines), (
            join_lines
        )
        assert "Filter" in plan

    @pytest.mark.parametrize("family", ["bloom", "quotient", "cuckoo", "cms", "recent"])
    def test_native_bloom_semi_filter_join_carries_no_bit_tests(self, spark, family):
        # every native semi filter is its probe plus a filter on the
        # barriered column, so each keeps the predicate out of the join;
        # so does a filter on the CMS estimate or on the windowed
        # (expiring Bloom) membership column
        from probabilistic_rs_spark.operators import (
            cuckoo,
            heavy_hitters,
            membership,
            quotient,
            windowed_bloom,
        )

        orders = spark.read.parquet(f"{SF}/orders.parquet")
        probes = orders.select(F.col("o_custkey").alias("k"))
        if family == "bloom":
            state = membership.build_native_bloom_state(orders, "o_custkey", capacity=50_000)
            q = membership.native_bloom_semi_filter(probes, "k", state)
        elif family == "quotient":
            state = quotient.build_quotient_state(orders, "o_custkey", capacity=50_000)
            q = quotient.native_quotient_semi_filter(probes, "k", state)
        elif family == "cuckoo":
            state = cuckoo.build_cuckoo_shards(
                orders, "o_custkey", capacity=50_000, n_shards=4, native=True
            )
            q = cuckoo.native_cuckoo_semi_filter(probes, "k", state)
        elif family == "cms":
            state = heavy_hitters.build_cms_state(orders, "o_custkey", eps=0.01, delta=0.01)
            q = heavy_hitters.native_cms_probe(probes, "k", state).where(
                F.col("est_count") > 1
            )
        else:
            ev = spark.read.parquet(f"{SF}/events.parquet")
            levels = windowed_bloom.recent_level_states(
                windowed_bloom.windowed_bloom_states(
                    ev, "ts", "user_id", "7 days", capacity_per_level=50_000,
                    engine="native",
                ),
                num_levels=3,
            )
            q = windowed_bloom.native_probe_recent(
                ev.select(F.col("user_id").alias("k")), "k", levels
            ).where(F.col("is_member"))
        plan = _final_plan(q)
        join_lines = [
            ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln
        ]
        assert join_lines, plan[:1500]
        assert not any(
            "shiftrightunsigned" in ln or "xxhash64" in ln for ln in join_lines
        ), join_lines
