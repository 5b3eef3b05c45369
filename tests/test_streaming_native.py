"""Streaming × native-probe composition (round 5): the expiring Bloom
maintained with ``engine='native'`` (KM base hashes from the streaming
projection, bare-scatter stateful kernel), persisted through the
family-aware chunk stores, and probed Python-free with
``native_probe_recent``."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def events(spark):
    # unpersisted on teardown: a cached relation over this path would
    # otherwise serve (and shape the plans of) later tests that read it
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet").cache()
    yield df
    df.unpersist()


class TestFamilyAwareChunkStore:
    def test_native_family_persist_and_load(self, tmp_path):
        import numpy as np

        from probabilistic_rs_spark.chunkstore import BloomChunkStore
        from probabilistic_rs_spark.sketches.bloom import BloomConfig
        from probabilistic_rs_spark.sketches.native_bloom import NativeBloomSketch

        cfg = BloomConfig(capacity=10_000, false_positive_rate=0.01)
        sk = NativeBloomSketch(cfg)
        h = np.arange(500, dtype=np.int64).reshape(-1, 2)
        sk.update_base_hashes(h)
        store = BloomChunkStore.create(
            str(tmp_path / "st"), cfg, sketch_cls=NativeBloomSketch
        )
        store.save_snapshot(sk)
        _, loaded = BloomChunkStore.load(str(tmp_path / "st"))
        assert isinstance(loaded, NativeBloomSketch)
        assert loaded.to_bytes() == sk.to_bytes()

    def test_parity_store_meta_backcompat(self, tmp_path):
        import json
        import os

        from probabilistic_rs_spark.chunkstore import BloomChunkStore
        from probabilistic_rs_spark.sketches.bloom import BloomConfig, BloomSketch

        cfg = BloomConfig(capacity=1000)
        store = BloomChunkStore.create(str(tmp_path / "st"), cfg)
        # simulate a pre-round-5 store: drop the family field
        with open(store.meta_path) as f:
            meta = json.load(f)
        meta.pop("family")
        with open(store.meta_path, "w") as f:
            json.dump(meta, f)
        _, loaded = BloomChunkStore.load(str(tmp_path / "st"))
        assert type(loaded) is BloomSketch

    def test_cross_family_absorb_rejected(self, tmp_path):
        from probabilistic_rs_spark.chunkstore import WindowedBloomChunkStores
        from probabilistic_rs_spark.errors import SketchStateError
        from probabilistic_rs_spark.sketches.bloom import BloomConfig, BloomSketch
        from probabilistic_rs_spark.sketches.native_bloom import NativeBloomSketch

        cfg = BloomConfig(capacity=1000)
        stores = WindowedBloomChunkStores(
            str(tmp_path / "w"), cfg, sketch_cls=NativeBloomSketch
        )
        with pytest.raises(SketchStateError):
            stores.absorb("20240101T000000", BloomSketch(cfg).to_bytes())


class TestStreamingNative:
    def test_native_stream_chunkstore_native_probe(self, spark, events, tmp_path):
        """End-to-end: native streaming states -> foreachBatch chunk sink
        -> load from stores -> codegen probe; member set must equal the
        batch windowed native path on the same buckets."""
        from probabilistic_rs_spark.chunkstore import WindowedBloomChunkStores
        from probabilistic_rs_spark.operators.windowed_bloom import (
            native_probe_recent,
            recent_level_states,
            windowed_bloom_states,
        )
        from probabilistic_rs_spark.sketches.bloom import BloomConfig
        from probabilistic_rs_spark.sketches.native_bloom import NativeBloomSketch
        from probabilistic_rs_spark.streaming import streaming_windowed_bloom
        from probabilistic_rs_spark.streaming.persistence import (
            start_persisted_windowed_bloom,
        )

        bucket_start = F.to_timestamp(
            F.date_add(
                F.lit("2024-01-01").cast("date"),
                (F.floor(F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / 7) * 7).cast(
                    "int"
                ),
            )
        )
        src_df = events.select("user_id", bucket_start.alias("bts"))
        src = str(tmp_path / "src")
        src_df.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(src_df.schema).parquet(src)
        out = streaming_windowed_bloom(
            stream,
            "bts",
            "user_id",
            level_duration="7 days",
            watermark_delay="14 days",
            capacity_per_level=50_000,
            target_fpr=0.0001,
            engine="native",
        )
        stores = WindowedBloomChunkStores(
            str(tmp_path / "stores"),
            BloomConfig(capacity=50_000, false_positive_rate=0.0001),
            num_levels=3,
            sketch_cls=NativeBloomSketch,
        )
        q = start_persisted_windowed_bloom(
            out, stores, str(tmp_path / "ck"), available_now=True
        )
        q.awaitTermination(120)

        levels = [(wk, wk, blob) for wk, blob in stores.active_level_states()]
        assert 1 <= len(levels) <= 3
        users = events.select("user_id").distinct()
        got = set(
            r["user_id"]
            for r in native_probe_recent(users, "user_id", levels)
            .where("is_member")
            .collect()
        )
        # batch reference on the same pre-snapped buckets, native engine
        batch_states = windowed_bloom_states(
            src_df, "bts", "user_id",
            level_duration="7 days", capacity_per_level=50_000,
            target_fpr=0.0001, engine="native",
        )
        batch_levels = recent_level_states(batch_states, num_levels=3)
        want = set(
            r["user_id"]
            for r in native_probe_recent(users, "user_id", batch_levels)
            .where("is_member")
            .collect()
        )
        assert got == want

        # round 6: the same persisted levels feed the PARTITIONED family —
        # chunk stores -> states frame -> blocks table -> non-broadcast
        # probe must agree with the broadcast probe on the same levels
        from probabilistic_rs_spark.operators.windowed_bloom import (
            windowed_bloom_partitioned_probe,
            windowed_states_to_blocks_df,
        )

        states_df = spark.createDataFrame(
            [(wk, bytearray(blob)) for wk, blob in stores.active_level_states()],
            "window_start string, bloom_state binary",
        )
        blocks = windowed_states_to_blocks_df(
            states_df, num_levels=3, words_per_block=1024
        ).persist()
        try:
            blocks.count()
            got_part = set(
                r["user_id"]
                for r in windowed_bloom_partitioned_probe(users, "user_id", blocks)
                .where("is_member")
                .collect()
            )
        finally:
            blocks.unpersist()
        assert got_part == want

    def test_bad_engine_rejected(self, spark, events):
        from probabilistic_rs_spark.errors import SketchConfigError
        from probabilistic_rs_spark.streaming import streaming_windowed_bloom

        with pytest.raises(SketchConfigError, match="engine"):
            streaming_windowed_bloom(events, "ts", "user_id", engine="nope")
