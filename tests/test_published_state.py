"""One state-publishing path for the broadcast and native probes.

Probing the same state twice in one application must publish it once:
the broadcast probes share one driver broadcast, the native probes one
cached one-row relation. Counted by wrapping the session's
``sparkContext.broadcast`` and ``createDataFrame``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def states(spark):
    from probabilistic_rs_spark.operators import (
        cuckoo,
        heavy_hitters,
        membership,
        moments,
        quantiles,
        quotient,
    )

    df = spark.range(300).select(
        F.concat(F.lit("ps"), F.col("id").cast("string")).alias("k"),
        (F.col("id") * 0.5).alias("v"),
    )
    bloom = membership.build_bloom_state(df, "k", capacity=1_000)
    nbloom = membership.build_native_bloom_state(df, "k", capacity=1_000)
    return df, {
        "bloom": bloom,
        "nbloom": nbloom,
        "quotient": quotient.build_quotient_state(df, "k", capacity=1_000),
        "levels": [(None, None, bloom)],
        "nlevels": [(None, None, nbloom)],
        "cms": heavy_hitters.build_cms_state(df, "k", eps=0.01, delta=0.01),
        "cs": moments.build_cs_state(df, "k", eps=0.05, delta=0.01),
        "cuckoo": cuckoo.build_cuckoo_shards(df, "k", capacity=1_000, n_shards=2),
        "ncuckoo": cuckoo.build_cuckoo_shards(
            df, "k", capacity=1_000, n_shards=2, native=True
        ),
        "tdigest": quantiles.build_tdigest_state(df, "v"),
        "kll": quantiles.build_kll_state(df, "v"),
    }


def _probes():
    from probabilistic_rs_spark.operators import (
        cuckoo,
        heavy_hitters,
        membership,
        moments,
        quantiles,
        quotient,
        windowed_bloom,
    )

    broadcast = {
        "bloom_probe": (membership.bloom_probe, "k", "bloom"),
        "quotient_probe": (quotient.quotient_probe, "k", "quotient"),
        "probe_recent": (windowed_bloom.probe_recent, "k", "levels"),
        "cms_probe": (heavy_hitters.cms_probe, "k", "cms"),
        "cs_probe": (moments.cs_probe, "k", "cs"),
        "cuckoo_probe": (cuckoo.cuckoo_probe, "k", "cuckoo"),
        "tdigest_cdf_probe": (quantiles.tdigest_cdf_probe, "v", "tdigest"),
        "kll_cdf_probe": (quantiles.kll_cdf_probe, "v", "kll"),
    }
    native = {
        "native_bloom_probe": (membership.native_bloom_probe, "k", "nbloom"),
        "native_quotient_probe": (quotient.native_quotient_probe, "k", "quotient"),
        "native_probe_recent": (windowed_bloom.native_probe_recent, "k", "nlevels"),
        "native_cms_probe": (heavy_hitters.native_cms_probe, "k", "cms"),
        "native_cs_probe": (moments.native_cs_probe, "k", "cs"),
        "native_cuckoo_probe": (cuckoo.native_cuckoo_probe, "k", "ncuckoo"),
        "native_tdigest_cdf_probe": (quantiles.native_tdigest_cdf_probe, "v", "tdigest"),
        "native_kll_cdf_probe": (quantiles.native_kll_cdf_probe, "v", "kll"),
    }
    return broadcast, native


def _counting(monkeypatch, obj, name):
    calls = []
    original = getattr(obj, name)

    def counted(*args, **kwargs):
        calls.append(name)
        return original(*args, **kwargs)

    monkeypatch.setattr(obj, name, counted)
    return calls


@pytest.mark.parametrize("name", sorted(_probes()[0]))
def test_broadcast_probe_publishes_state_once(spark, states, monkeypatch, name):
    df, st = states
    probe, col, key = _probes()[0][name]
    broadcasts = _counting(monkeypatch, spark.sparkContext, "broadcast")
    first = probe(df, col, st[key])
    second = probe(df, col, st[key])
    assert len(broadcasts) <= 1, f"{name} broadcast its state {len(broadcasts)} times"
    # the second call's kernel reads the worker's memoized state
    out = second.columns[-1]
    assert first.select("k", out).collect() == second.select("k", out).collect()


@pytest.mark.parametrize("name", sorted(_probes()[1]))
def test_native_probe_builds_one_relation(spark, states, monkeypatch, name):
    df, st = states
    probe, col, key = _probes()[1][name]
    relations = _counting(monkeypatch, spark, "createDataFrame")
    broadcasts = _counting(monkeypatch, spark.sparkContext, "broadcast")
    probe(df, col, st[key])
    probe(df, col, st[key])
    assert len(relations) <= 1, f"{name} built {len(relations)} state relations"
    assert broadcasts == []
