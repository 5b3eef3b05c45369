"""Round-6 partitioned (non-broadcast) windowed-Bloom family (VERDICT r5
"What's missing #1" / next-round #2):

* blocks exploded from built native level states probe identically to the
  broadcast ``native_probe_recent``;
* blocks built DIRECTLY from events (never materializing a level) are
  bit-identical to blocks exploded from built states;
* per-level AND / cross-level OR semantics, level expiry via num_levels;
* mixed-geometry and wrong-engine inputs fail loudly, and a bad
  ``num_levels`` fails before any job;
* the direct build carries its geometry in the ``words`` column
  metadata, so the unrestricted probe launches no job before its action,
  also after a parquet round trip; the metadata-less states explode
  probes the same after a job reads its geometry;
* a stack of 300 one-item levels probes like its per-level native
  states OR-ed together;
* the probe plan needs no broadcast: with broadcast joins disabled it is
  still cartesian-free (shuffle equi-joins only);
* a null level is a level of its own (as in Spark's ``groupBy``) whose
  blocks equal those of the same items under a non-null level; a nested
  level type fails on the driver;
* flushing the partial stage at any byte bound leaves the blocks
  bit-identical.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from probabilistic_rs_spark.errors import SketchConfigError
from probabilistic_rs_spark.operators import sketch_agg
from probabilistic_rs_spark.operators.sketch_agg import SketchSpec, sketch_aggregate
from probabilistic_rs_spark.operators.windowed_bloom import (
    build_windowed_bloom_blocks_df,
    native_probe_recent,
    windowed_bloom_partitioned_probe,
    windowed_states_to_blocks_df,
)

CAP, FPR = 5000, 1e-6


def _events(spark):
    # 3 buckets x 300 users; bucket b holds users [100*b, 100*b + 599)
    return (
        spark.range(3 * 600)
        .select(
            (F.col("id") % 3).alias("bucket"),
            F.concat(
                F.lit("u"), ((F.col("id") % 3) * 100 + F.col("id") / 3).cast("long")
            ).alias("user"),
        )
    )


@pytest.fixture(scope="module")
def built(spark):
    ev = _events(spark).cache()
    ev.count()
    spec = SketchSpec(
        "bloom", "nbloom", "user", {"capacity": CAP, "false_positive_rate": FPR}
    )
    states = sketch_aggregate(ev, ["bucket"], [spec]).withColumnRenamed(
        "bucket", "window_start"
    )
    states = states.cache()
    states.count()
    blocks = windowed_states_to_blocks_df(states, num_levels=3, words_per_block=64)
    blocks = blocks.cache()
    blocks.count()
    yield ev, states, blocks
    for df in (ev, states, blocks):
        df.unpersist()


class TestPartitionedProbe:
    def test_matches_native_broadcast_probe(self, spark, built):
        ev, states, blocks = built
        levels = [
            (r["window_start"], r["window_start"], bytes(r["bloom_state"]))
            for r in states.orderBy(F.desc("window_start")).limit(3).collect()
        ]
        probes = ev.select("user").union(
            spark.range(2000, 2500).select(F.concat(F.lit("absent"), "id").alias("user"))
        ).distinct()
        want = {
            r["user"]: r["is_member"]
            for r in native_probe_recent(probes, "user", levels).collect()
        }
        got = {
            r["user"]: r["is_member"]
            for r in windowed_bloom_partitioned_probe(probes, "user", blocks).collect()
        }
        assert got == want
        assert all(want[r["user"]] for r in ev.select("user").distinct().collect())

    def test_direct_build_bit_identical_to_states_explode(self, spark, built):
        ev, _, blocks = built
        direct = build_windowed_bloom_blocks_df(
            ev.withColumnRenamed("bucket", "level"), "level", "user",
            capacity_per_level=CAP, target_fpr=FPR, words_per_block=64,
        )
        a = sorted(
            (r["level"], r["block"], tuple(r["words"]), r["m"], r["k"])
            for r in direct.collect()
        )
        b = sorted(
            (r["level"], r["block"], tuple(r["words"]), r["m"], r["k"])
            for r in blocks.collect()
        )
        assert a == b

    def test_level_expiry_and_cross_level_or(self, spark, built):
        ev, _, blocks = built
        # restricted to the 2 most recent buckets (1, 2): users exclusive
        # to bucket 0 (u0..u99) must expire; users in bucket 1 or 2 stay
        probes = ev.select("user").distinct()
        got = {
            r["user"]: r["is_member"]
            for r in windowed_bloom_partitioned_probe(
                probes, "user", blocks, num_levels=2
            ).collect()
        }
        only_b0 = {f"u{i}" for i in range(100)}
        assert all(not got[u] for u in only_b0)
        assert all(v for u, v in got.items() if u not in only_b0)

    def test_as_of_excludes_future_levels(self, spark, built):
        ev, _, blocks = built
        probes = ev.select("user").distinct()
        got = {
            r["user"]: r["is_member"]
            for r in windowed_bloom_partitioned_probe(
                probes, "user", blocks, num_levels=3, as_of=1
            ).collect()
        }
        # bucket 2 exclusive users (u799..) are invisible at as_of=1
        only_b2 = {
            r["user"]
            for r in _events(spark).where("bucket = 2").select("user").distinct().collect()
        } - {
            r["user"]
            for r in _events(spark).where("bucket < 2").select("user").distinct().collect()
        }
        assert only_b2 and all(not got[u] for u in only_b2)

    def test_empty_blocks_all_false(self, spark, built):
        ev, _, blocks = built
        out = windowed_bloom_partitioned_probe(
            ev.select("user").limit(5), "user", blocks.where("block < 0")
        )
        assert [r["is_member"] for r in out.collect()] == [False] * 5

    def test_mixed_geometry_raises(self, spark, built):
        _, _, blocks = built
        mixed = blocks.unionByName(blocks.withColumn("k", F.col("k") + 1))
        # the block rows of the second geometry fail the in-task check
        with pytest.raises(Exception, match="mixes geometries"):
            windowed_bloom_partitioned_probe(
                blocks.sparkSession.range(1).select(F.lit("u1").alias("user")),
                "user",
                mixed,
            ).collect()

    def test_parity_engine_states_rejected(self, spark):
        ev = _events(spark)
        spec = SketchSpec(
            "bloom", "bloom", "user", {"capacity": CAP, "false_positive_rate": 0.01}
        )
        states = sketch_aggregate(ev, ["bucket"], [spec]).withColumnRenamed(
            "bucket", "window_start"
        )
        with pytest.raises(Exception, match="type mismatch"):
            windowed_states_to_blocks_df(states, num_levels=3).collect()

    def test_prune_expired_blocks_retention(self, spark, built):
        from probabilistic_rs_spark.operators.windowed_bloom import (
            prune_expired_blocks,
        )

        ev, _, blocks = built
        kept = prune_expired_blocks(blocks, num_levels=2)
        assert {r["level"] for r in kept.select("level").distinct().collect()} == {1, 2}
        # probing the pruned table (no further restriction) == probing the
        # full table restricted to the same 2 levels
        probes = ev.select("user").distinct()
        a = {
            r["user"]: r["is_member"]
            for r in windowed_bloom_partitioned_probe(probes, "user", kept).collect()
        }
        b = {
            r["user"]: r["is_member"]
            for r in windowed_bloom_partitioned_probe(
                probes, "user", blocks, num_levels=2
            ).collect()
        }
        assert a == b

    def test_blocks_from_parquet_roundtripped_states(self, spark, built, tmp_path):
        # composition across persistence: states -> parquet -> load ->
        # blocks -> probe must equal probing the in-session states
        ev, states, blocks = built
        path = str(tmp_path / "wb_states")
        states.write.mode("overwrite").parquet(path)
        blocks2 = windowed_states_to_blocks_df(
            spark.read.parquet(path), num_levels=3, words_per_block=64
        )
        probes = ev.select("user").distinct()
        want = {
            r["user"]: r["is_member"]
            for r in windowed_bloom_partitioned_probe(probes, "user", blocks).collect()
        }
        got = {
            r["user"]: r["is_member"]
            for r in windowed_bloom_partitioned_probe(probes, "user", blocks2).collect()
        }
        assert got == want

    def test_probe_plan_needs_no_broadcast(self, spark, built):
        ev, _, blocks = built
        conf = spark.conf
        old_static = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
        old_aqe = conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
        try:
            conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
            out = windowed_bloom_partitioned_probe(
                ev.select("user").distinct(), "user", blocks
            )
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "CartesianProduct" not in plan
            assert "BroadcastExchange" not in plan
            assert "BroadcastNestedLoopJoin" not in plan
            # and it still answers correctly on the shuffle-only plan
            assert out.where("is_member").count() == ev.select("user").distinct().count()
        finally:
            conf.set("spark.sql.autoBroadcastJoinThreshold", old_static)
            if old_aqe is None:
                conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
            else:
                conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)


def _direct_build(df):
    return build_windowed_bloom_blocks_df(
        df, "level", "user", capacity_per_level=CAP, target_fpr=FPR, words_per_block=64
    )


def _block_rows(blocks):
    return sorted((r["block"], tuple(r["words"])) for r in blocks.collect())


def _leveled(ids, level_type: str, level_sql: str):
    return ids.select(
        F.expr(f"CAST({level_sql} AS {level_type})").alias("level"),
        F.concat(F.lit("u"), F.col("id")).alias("user"),
    )


@pytest.mark.parametrize("layout", ["mixed", "all-null"])
@pytest.mark.parametrize(
    "level_type, value",
    [("long", "7"), ("string", "'w7'"), ("date", "DATE'2024-01-07'")],
)
def test_null_level_is_a_level_of_its_own(spark, level_type, value, layout):
    # even ids carry a null level, odd ids the non-null one
    if layout == "mixed":
        ev = _leveled(
            spark.range(0, 400, numPartitions=1),
            level_type,
            f"IF(id % 2 = 0, NULL, {value})",
        )
    else:
        ev = _leveled(spark.range(0, 400, 2, numPartitions=2), level_type, "NULL").union(
            _leveled(spark.range(1, 400, 2, numPartitions=1), level_type, value)
        )
    blocks = _direct_build(ev).cache()
    try:
        levels = {r["level"] for r in blocks.select("level").distinct().collect()}
        assert None in levels and len(levels) == 2
        # positions do not depend on the level: the null level's blocks are
        # those of the same items under a non-null level
        same_items = _leveled(spark.range(0, 400, 2), level_type, value)
        assert _block_rows(blocks.where(F.col("level").isNull())) == _block_rows(
            _direct_build(same_items)
        )
        probed = windowed_bloom_partitioned_probe(same_items.select("user"), "user", blocks)
        assert probed.where(~F.col("is_member")).count() == 0
    finally:
        blocks.unpersist()


def _verdicts(df):
    return sorted((r["user"], r["is_member"]) for r in df.collect())


@pytest.mark.parametrize("num_levels", [0, 256])
def test_bad_num_levels_fails_before_any_job(spark, built, num_levels):
    # the states explode carries no geometry metadata, and its empty
    # table used to return all-False without checking num_levels
    blocks = built[2]
    assert "block_geometry" not in blocks.schema["words"].metadata
    probes = spark.range(3).select(F.lit("u1").alias("user"))
    tracker = spark.sparkContext.statusTracker()
    for table in (blocks, blocks.where("block < 0")):
        last_job = max(tracker.getJobIdsForGroup(None), default=-1)
        with pytest.raises(SketchConfigError, match="num_levels"):
            windowed_bloom_partitioned_probe(probes, "user", table, num_levels=num_levels)
        assert max(tracker.getJobIdsForGroup(None), default=-1) == last_job


class TestGeometryMetadata:
    @pytest.fixture(scope="class")
    def direct(self, built):
        blocks = _direct_build(built[0].withColumnRenamed("bucket", "level")).persist()
        yield blocks
        blocks.unpersist()

    def test_unrestricted_probe_launches_no_job(self, built, direct, jobs_during):
        ev, _, states_blocks = built
        assert direct.schema["words"].metadata["block_geometry"]["words_per_block"] == 64
        probes = ev.select("user").distinct()
        out, jobs = jobs_during(
            lambda: windowed_bloom_partitioned_probe(probes, "user", direct)
        )
        assert jobs == 0
        # the metadata-less states explode reads its geometry with a job
        want, jobs = jobs_during(
            lambda: windowed_bloom_partitioned_probe(probes, "user", states_blocks)
        )
        assert jobs >= 1
        assert _verdicts(out) == _verdicts(want)

    def test_parquet_roundtrip_keeps_geometry(
        self, spark, built, direct, tmp_path, jobs_during
    ):
        path = str(tmp_path / "wb_blocks")
        direct.write.parquet(path)
        loaded = spark.read.parquet(path)
        assert loaded.schema["words"].metadata == direct.schema["words"].metadata
        probes = built[0].select("user").distinct()
        out, jobs = jobs_during(
            lambda: windowed_bloom_partitioned_probe(probes, "user", loaded)
        )
        assert jobs == 0
        assert _verdicts(out) == _verdicts(
            windowed_bloom_partitioned_probe(probes, "user", direct)
        )


def test_many_one_item_levels_match_per_level_states(spark):
    # 300 levels of one item each: every level ORs into the verdict
    import numpy as np

    from probabilistic_rs_spark.operators.sketch_agg import native_bloom_base_hash_exprs
    from probabilistic_rs_spark.sketches.native_bloom import NativeBloomSketch

    n = 300
    ev = spark.range(n).select(
        F.col("id").alias("level"), F.concat(F.lit("u"), "id").alias("user")
    )
    spec = SketchSpec("bloom", "nbloom", "user", {"capacity": 50, "false_positive_rate": 0.01})
    states = [
        NativeBloomSketch.from_bytes(bytes(r["bloom_state"]))
        for r in sketch_aggregate(ev, ["level"], [spec]).collect()
    ]
    assert len(states) == n
    blocks = build_windowed_bloom_blocks_df(
        ev, "level", "user", capacity_per_level=50, target_fpr=0.01, words_per_block=4
    ).persist()
    try:
        probes = spark.range(2 * n).select(F.concat(F.lit("u"), "id").alias("user"))
        got = _verdicts(windowed_bloom_partitioned_probe(probes, "user", blocks))
        # the per-level states probed one by one, OR-ed together
        hashed = sorted(
            (r[0], r[1], r[2])
            for r in probes.select("user", *native_bloom_base_hash_exprs(F.col("user"))).collect()
        )
        h2cols = np.array([(h1, h2) for _, h1, h2 in hashed], dtype=np.int64)
        want = np.zeros(len(hashed), dtype=bool)
        for sk in states:
            want |= sk.contains_positions(sk.positions_from_base_hashes(h2cols))
        assert got == [(u, bool(v)) for (u, _, _), v in zip(hashed, want)]
        assert all(v for u, v in got if int(u[1:]) < n)
    finally:
        blocks.unpersist()


def test_struct_level_fails_on_driver(spark):
    ev = _events(spark).select(F.struct("bucket").alias("level"), "user")
    tracker = spark.sparkContext.statusTracker()
    last_job = max(tracker.getJobIdsForGroup(None), default=-1)
    with pytest.raises(SketchConfigError, match="nested"):
        _direct_build(ev)
    assert max(tracker.getJobIdsForGroup(None), default=-1) == last_job


def test_flush_bound_keeps_blocks_bit_identical(
    spark, built, monkeypatch, map_in_arrow_rows, small_arrow_batches
):
    ev = built[0].withColumnRenamed("bucket", "level")

    def build():
        blocks = _direct_build(ev)
        rows = sorted(
            (r["level"], r["block"], tuple(r["words"])) for r in blocks.collect()
        )
        return rows, map_in_arrow_rows(blocks)

    whole, whole_partials = build()
    monkeypatch.setattr(sketch_agg, "PACKED_FLUSH_BYTES", 256)
    flushed, flushed_partials = build()
    assert flushed == whole
    # each partition flushed many times: more partial rows, same blocks
    assert flushed_partials > whole_partials
