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

    @pytest.mark.parametrize("family", ["bloom", "quotient", "cuckoo"])
    def test_native_bloom_semi_filter_join_carries_no_bit_tests(self, spark, family):
        # every native semi filter is its probe plus a filter on the
        # barriered column, so each keeps the predicate out of the join
        from probabilistic_rs_spark.operators import cuckoo, membership, quotient

        orders = spark.read.parquet(f"{SF}/orders.parquet")
        if family == "bloom":
            state = membership.build_native_bloom_state(orders, "o_custkey", capacity=50_000)
            semi = membership.native_bloom_semi_filter
        elif family == "quotient":
            state = quotient.build_quotient_state(orders, "o_custkey", capacity=50_000)
            semi = quotient.native_quotient_semi_filter
        else:
            state = cuckoo.build_cuckoo_shards(
                orders, "o_custkey", capacity=50_000, n_shards=4, native=True
            )
            semi = cuckoo.native_cuckoo_semi_filter
        probes = orders.select(F.col("o_custkey").alias("k"))
        plan = _final_plan(semi(probes, "k", state))
        join_lines = [
            ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln
        ]
        assert join_lines, plan[:1500]
        assert not any("shiftrightunsigned" in ln for ln in join_lines), join_lines
