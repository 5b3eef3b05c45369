"""Round-7 hardening (VERDICT r6 #3 + ADVICE r6 lows):

* the partitioned probes ENFORCE the persist-before-probe contract —
  a forgotten ``persist()`` still executes the blocks build plan exactly
  once (jobs-count test via a marker-file-instrumented source);
* ``common.ensure_persisted`` persists only unpersisted tables and never
  touches caller-persisted ones;
* ``as_of`` alone is a pure ``level <= as_of`` cutoff (no implicit
  3-level restriction);
* ``op_masks`` stays loud-and-actionable under pandas nullable/Arrow
  string dtypes (SketchConfigError, not "boolean value of NA is
  ambiguous").
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from pyspark.sql import functions as F

from probabilistic_rs_spark.errors import SketchConfigError


def _leveled_events(spark, n_levels=4, per_level=150):
    return spark.range(n_levels * per_level).select(
        (F.col("id") % n_levels).alias("level"),
        F.concat(F.lit("u"), F.col("id")).alias("user"),
    )


class TestEnsurePersisted:
    def test_unpersisted_is_persisted_and_tracked(self, spark):
        from probabilistic_rs_spark.common import ensure_persisted

        cache: dict = {}
        df = spark.range(10)
        assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)
        out = ensure_persisted(df, cache=cache)
        assert out is df
        assert df.storageLevel.useMemory or df.storageLevel.useDisk
        assert list(cache.values()) == [df]
        df.unpersist()

    def test_caller_persisted_passes_through_untracked(self, spark):
        from probabilistic_rs_spark.common import ensure_persisted

        cache: dict = {}
        df = spark.range(10).persist()
        try:
            before = df.storageLevel
            out = ensure_persisted(df, cache=cache)
            assert out is df
            assert df.storageLevel == before
            assert cache == {}
        finally:
            df.unpersist()

    def test_lru_eviction_unpersists(self, spark):
        from probabilistic_rs_spark.common import ensure_persisted

        cache: dict = {}
        dfs = [spark.range(i + 1) for i in range(3)]
        for df in dfs:
            ensure_persisted(df, cache=cache, max_entries=2)
        assert len(cache) == 2
        # the oldest was evicted AND unpersisted (lazily recoverable)
        lvl = dfs[0].storageLevel
        assert not (lvl.useMemory or lvl.useDisk)
        for df in dfs[1:]:
            df.unpersist()


class TestPersistContractEnforced:
    """VERDICT r6 #3 'done' criterion: a jobs-count test showing the
    blocks build plan executes ONCE when the caller forgets to persist.
    The build source is instrumented with a marker-file-per-partition
    ``mapInPandas``; a probe walks the blocks table once per geometry
    agg, level list and lookup join it needs (the direct builds carry
    their geometry in column metadata, so these probes need one walk),
    and the internal persist keeps a re-executed build from leaving a
    multiple of the markers."""

    N_PARTS = 4

    def _instrumented(self, spark, marker_dir):
        ev = _leveled_events(spark, n_levels=3).repartition(self.N_PARTS)
        schema = ev.schema

        def mark(it):
            import os as _os
            import uuid as _uuid

            with open(_os.path.join(marker_dir, _uuid.uuid4().hex), "w") as f:
                f.write("1")
            for pdf in it:
                yield pdf

        return ev, ev.mapInPandas(mark, schema)

    def test_windowed_blocks_build_runs_once_without_persist(
        self, spark, tmp_path
    ):
        from probabilistic_rs_spark.operators.windowed_bloom import (
            build_windowed_bloom_blocks_df,
            windowed_bloom_partitioned_probe,
        )

        marker_dir = str(tmp_path / "markers_wb")
        os.makedirs(marker_dir)
        ev, src = self._instrumented(spark, marker_dir)
        blocks = build_windowed_bloom_blocks_df(
            src, "level", "user",
            capacity_per_level=2000, target_fpr=1e-4, words_per_block=64,
        )
        # caller "forgets" blocks.persist()
        out = windowed_bloom_partitioned_probe(
            ev.select("user").distinct(), "user", blocks
        )
        assert out.where(~F.col("is_member")).count() == 0
        n = len(os.listdir(marker_dir))
        assert n == self.N_PARTS, (
            f"build source scanned {n / self.N_PARTS:.1f}x — the internal "
            "persist did not hold"
        )

    def test_cms_blocks_build_runs_once_without_persist(self, spark, tmp_path):
        from probabilistic_rs_spark.operators.heavy_hitters import (
            build_cms_blocks_df,
            cms_partitioned_probe,
        )

        marker_dir = str(tmp_path / "markers_cms")
        os.makedirs(marker_dir)
        ev, src = self._instrumented(spark, marker_dir)
        blocks = build_cms_blocks_df(
            src, "level", eps=0.001, delta=0.001, cells_per_block=512
        )
        probes = ev.select("level").distinct()
        got = {
            r["level"]: r["est_count"]
            for r in cms_partitioned_probe(probes, "level", blocks).collect()
        }
        assert got == {0: 150, 1: 150, 2: 150}
        n = len(os.listdir(marker_dir))
        assert n == self.N_PARTS


class TestAsOfPureCutoff:
    def test_as_of_alone_keeps_all_levels_at_or_before(self, spark):
        """ADVICE r6: as_of WITHOUT num_levels used to silently also
        restrict to the 3 most recent levels — with 4 levels and
        as_of=3, bucket-0-only users were invisible. Now as_of alone is
        a pure <= filter."""
        from probabilistic_rs_spark.operators.windowed_bloom import (
            build_windowed_bloom_blocks_df,
            windowed_bloom_partitioned_probe,
        )

        ev = _leveled_events(spark, n_levels=4)
        blocks = build_windowed_bloom_blocks_df(
            ev, "level", "user",
            capacity_per_level=2000, target_fpr=1e-6, words_per_block=64,
        ).persist()
        try:
            probes = ev.select("user", "level").distinct()
            got = windowed_bloom_partitioned_probe(
                probes, "user", blocks, as_of=3
            )
            # every inserted user (all levels <= 3) is a member
            assert got.where(~F.col("is_member")).count() == 0
            # and the cutoff still excludes future levels
            got2 = windowed_bloom_partitioned_probe(
                probes, "user", blocks, as_of=2
            )
            rows = {(r["user"], r["level"]): r["is_member"] for r in got2.collect()}
            assert all(v for (u, lv), v in rows.items() if lv <= 2)
            assert all(not v for (u, lv), v in rows.items() if lv == 3)
            # combined: as_of + num_levels restricts to the N most
            # recent at/before the cutoff (unchanged semantics)
            got3 = windowed_bloom_partitioned_probe(
                probes, "user", blocks, num_levels=1, as_of=2
            )
            rows3 = {(r["user"], r["level"]): r["is_member"] for r in got3.collect()}
            assert all(v for (u, lv), v in rows3.items() if lv == 2)
            assert all(not v for (u, lv), v in rows3.items() if lv != 2)
        finally:
            blocks.unpersist()


class TestOpMasksNullable:
    def test_nullable_string_dtype_raises_config_error(self):
        from probabilistic_rs_spark.common import op_masks

        ops = pd.Series(["insert", None, "delete"], dtype="string")
        with pytest.raises(SketchConfigError, match="op tags other"):
            op_masks(ops)

    def test_object_dtype_none_raises_config_error(self):
        from probabilistic_rs_spark.common import op_masks

        ops = pd.Series(["insert", None], dtype=object)
        with pytest.raises(SketchConfigError, match="op tags other"):
            op_masks(ops)

    def test_clean_nullable_string_dtype_passes(self):
        from probabilistic_rs_spark.common import op_masks

        ops = pd.Series(["insert", "delete", "insert"], dtype="string")
        is_ins, is_del = op_masks(ops)
        assert list(is_ins) == [True, False, True]
        assert list(is_del) == [False, True, False]
