"""Round-6 partitioned (non-broadcast) CMS — the count family's
degradation path past the broadcast budget, mirroring the membership
families: distributed (row, block, cells) matrix slices, d JVM-computed
KM cell lookups shuffled to their block, min-combine per key.

* estimates identical to the broadcast probes (same hash, same cells);
* the distributed build's reconstructed matrix is CELL-IDENTICAL to the
  driver-built CountMinSketch on the same data;
* never-seen keys estimate 0 (when their cells are empty);
* mixed geometries and empty tables fail safe;
* the probe plans from the ``cells`` geometry metadata with no job, kept
  through a parquet round trip; a table without it reads its geometry
  with a job and probes the same;
* the probe plan needs no broadcast (shuffle equi-joins only);
* flushing the partial stage at any byte bound leaves the blocks
  bit-identical.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from probabilistic_rs_spark.errors import SketchConfigError
from probabilistic_rs_spark.operators import sketch_agg
from probabilistic_rs_spark.operators.heavy_hitters import (
    build_cms_blocks_df,
    build_cms_state,
    cms_partitioned_probe,
    cms_probe,
    native_cms_probe,
)
from probabilistic_rs_spark.sketches.cms import CountMinSketch

EPS, DELTA = 0.01, 0.001  # d=7, w=512: small enough to reconstruct


def _skewed(spark, n=20_000, keys=300):
    # zipf-ish: key id = floor(sqrt(uniform * keys^2)) — heavy low ids
    return spark.range(n).select(
        F.concat(
            F.lit("k"),
            F.floor(F.sqrt(F.pmod(F.xxhash64("id"), F.lit(keys * keys)))).cast("long"),
        ).alias("key")
    )


@pytest.fixture(scope="module")
def built(spark):
    df = _skewed(spark).cache()
    df.count()
    blocks = build_cms_blocks_df(df, "key", eps=EPS, delta=DELTA, cells_per_block=64)
    blocks = blocks.cache()
    blocks.count()
    state = build_cms_state(df, "key", eps=EPS, delta=DELTA)
    yield df, blocks, state
    df.unpersist()
    blocks.unpersist()


class TestCmsPartitioned:
    def test_matrix_cell_identical_to_driver_build(self, built):
        _, blocks, state = built
        cms = CountMinSketch.from_bytes(state)
        got = np.zeros((cms.d, cms.w), dtype=np.int64)
        for r in blocks.collect():
            cells = np.array(r["cells"], dtype=np.int64)
            c0 = r["block"] * r["cells_per_block"]
            got[r["row"], c0 : c0 + len(cells)] = cells
        assert (got == cms.table).all()

    def test_estimates_match_broadcast_probes(self, spark, built):
        df, blocks, state = built
        probes = df.select("key").distinct().union(
            spark.range(5).select(F.concat(F.lit("absent"), "id").alias("key"))
        )
        part = {
            r["key"]: r["est_count"]
            for r in cms_partitioned_probe(probes, "key", blocks).collect()
        }
        pand = {
            r["key"]: r["est_count"]
            for r in cms_probe(probes, "key", state).collect()
        }
        nat = {
            r["key"]: r["est_count"]
            for r in native_cms_probe(probes, "key", state).collect()
        }
        assert part == pand == nat

    def test_exactness_and_bound(self, built):
        df, blocks, _ = built
        exact = {
            r["key"]: r["cnt"]
            for r in df.groupBy("key").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        n_total = sum(exact.values())
        got = {
            r["key"]: r["est_count"]
            for r in cms_partitioned_probe(
                df.select("key").distinct(), "key", blocks
            ).collect()
        }
        for k, c in exact.items():
            assert got[k] >= c  # CMS never underestimates
            assert got[k] <= c + EPS * n_total  # and stays within eN here

    def test_mixed_geometry_and_empty(self, spark, built):
        df, blocks, _ = built
        mixed = blocks.unionByName(blocks.withColumn("d", F.col("d") + 1))
        # the union keeps the first child's geometry metadata; the block
        # rows of the second fail the in-task check at the action
        with pytest.raises(Exception, match="mixes CMS geometries"):
            cms_partitioned_probe(df.select("key").limit(1), "key", mixed).collect()
        out = cms_partitioned_probe(
            df.select("key").limit(4), "key", blocks.where("block < 0")
        )
        assert [r["est_count"] for r in out.collect()] == [0, 0, 0, 0]

    def test_probe_plan_needs_no_broadcast(self, spark, built):
        df, blocks, _ = built
        conf = spark.conf
        old_static = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
        old_aqe = conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
        try:
            conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
            out = cms_partitioned_probe(df.select("key").distinct(), "key", blocks)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "CartesianProduct" not in plan
            assert "BroadcastExchange" not in plan
            assert "BroadcastNestedLoopJoin" not in plan
            assert out.count() == df.select("key").distinct().count()
        finally:
            conf.set("spark.sql.autoBroadcastJoinThreshold", old_static)
            if old_aqe is None:
                conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
            else:
                conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)


def _estimates(df):
    return sorted((r["key"], r["est_count"]) for r in df.collect())


class TestGeometryMetadata:
    def test_probe_launches_no_job_before_its_action(self, built, jobs_during):
        df, blocks, _ = built
        assert blocks.schema["cells"].metadata["block_geometry"] == {
            "d": 7, "w": 512, "cells_per_block": 64,
        }
        out, jobs = jobs_during(lambda: cms_partitioned_probe(df.select("key"), "key", blocks))
        assert jobs == 0
        assert out.count() == df.count()

    def test_parquet_roundtrip_keeps_geometry(self, spark, built, tmp_path, jobs_during):
        df, blocks, _ = built
        path = str(tmp_path / "cms_blocks")
        blocks.write.parquet(path)
        loaded = spark.read.parquet(path)
        assert loaded.schema["cells"].metadata == blocks.schema["cells"].metadata
        probes = df.select("key").distinct()
        out, jobs = jobs_during(lambda: cms_partitioned_probe(probes, "key", loaded))
        assert jobs == 0
        assert _estimates(out) == _estimates(cms_partitioned_probe(probes, "key", blocks))

    def test_table_without_metadata_reads_geometry_with_a_job(self, built, jobs_during):
        df, blocks, _ = built
        bare = blocks.withColumn("cells", F.col("cells").alias("cells", metadata={}))
        assert "block_geometry" not in bare.schema["cells"].metadata
        probes = df.select("key").distinct()
        out, jobs = jobs_during(lambda: cms_partitioned_probe(probes, "key", bare))
        assert jobs >= 1  # a first-row read; more when leading partitions are empty
        assert _estimates(out) == _estimates(cms_partitioned_probe(probes, "key", blocks))
        bare.unpersist()


def test_flush_bound_keeps_blocks_bit_identical(
    built, monkeypatch, map_in_arrow_rows, small_arrow_batches
):
    df = built[0]

    def build():
        blocks = build_cms_blocks_df(df, "key", eps=EPS, delta=DELTA, cells_per_block=64)
        rows = sorted((r["row"], r["block"], tuple(r["cells"])) for r in blocks.collect())
        return rows, map_in_arrow_rows(blocks)

    whole, whole_partials = build()
    monkeypatch.setattr(sketch_agg, "PACKED_FLUSH_BYTES", 256)
    flushed, flushed_partials = build()
    assert flushed == whole
    # each partition flushed many times: more partial rows, same blocks
    assert flushed_partials > whole_partials
