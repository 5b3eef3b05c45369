"""In-process timings of the numpy sketch cores and hashing kernels.

Runs on the driver, on a sample of the seed's own input, so the numbers
isolate the kernels from Spark, Arrow transfer and scheduling.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow as pa

from perfbench.workloads import BLOOM_FPR, CMS_DELTA, CMS_EPS
from probabilistic_rs_spark.functions.hashing import (
    fnv1a64_batch,
    murmur3_32_batch,
    pad_batch_arrow,
    splitmix64,
)
from probabilistic_rs_spark.sketches.bloom import BloomConfig, BloomSketch
from probabilistic_rs_spark.sketches.cms import CountMinSketch
from probabilistic_rs_spark.sketches.hll import HyperLogLog
from probabilistic_rs_spark.sketches.kll import KLLSketch
from probabilistic_rs_spark.sketches.native_bloom import NativeBloomSketch
from probabilistic_rs_spark.sketches.tdigest import TDigest

REPS = 5
# sketch parameters of the in-process timings
HLL_P, KLL_K, TDIGEST_DELTA = 14, 200, 200.0


def _median_s(fn) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_metrics(urls: list[str], values: np.ndarray) -> dict:
    """``hashing.*_ns_per_item`` and ``sketches.<f>.*`` for one sample,
    with the sketch parameters above."""
    n = len(urls)
    arr = pa.array(urls, type=pa.string())
    out = {"hashing.pad_ns_per_item": _median_s(lambda: pad_batch_arrow(arr)) / n * 1e9}
    buf, lens = pad_batch_arrow(arr)
    out["hashing.murmur3_ns_per_item"] = _median_s(lambda: murmur3_32_batch(buf, lens)) / n * 1e9
    out["hashing.fnv1a64_ns_per_item"] = _median_s(lambda: fnv1a64_batch(buf, lens)) / n * 1e9

    hashes = splitmix64((fnv1a64_batch(buf, lens) << np.uint64(1)) ^ murmur3_32_batch(buf, lens))
    base = np.stack([hashes >> np.uint64(2), splitmix64(hashes) >> np.uint64(8)], axis=1)
    base = base.astype(np.int64)
    cfg = BloomConfig(capacity=n, false_positive_rate=BLOOM_FPR)
    half = n // 2
    families = {
        "hll": (lambda: HyperLogLog(p=HLL_P), lambda sk, s: sk.update_hashes(hashes[s])),
        "kll": (lambda: KLLSketch(k=KLL_K), lambda sk, s: sk.update_values(values[s])),
        "tdigest": (lambda: TDigest(delta=TDIGEST_DELTA), lambda sk, s: sk.update_values(values[s])),
        "cms": (lambda: CountMinSketch(CMS_EPS, CMS_DELTA), lambda sk, s: sk.update_hashes(hashes[s])),
        "bloom": (lambda: BloomSketch(cfg), lambda sk, s: sk.update_padded(buf[s], lens[s])),
        "nbloom": (lambda: NativeBloomSketch(cfg), lambda sk, s: sk.update_base_hashes(base[s])),
    }
    for name, (make, update) in families.items():
        everything = slice(0, n)
        out[f"sketches.{name}.update_ns_per_item"] = (
            _median_s(lambda: update(make(), everything)) / n * 1e9
        )
        a, b = make(), make()
        update(a, slice(0, half))
        update(b, slice(half, n))
        cls = type(a)
        a_bytes, b_bytes = a.to_bytes(), b.to_bytes()
        merge_times = []
        for _ in range(REPS):
            x, y = cls.from_bytes(a_bytes), cls.from_bytes(b_bytes)
            t0 = time.perf_counter()
            x.merge(y)
            merge_times.append(time.perf_counter() - t0)
        out[f"sketches.{name}.merge_ms"] = statistics.median(merge_times) * 1e3
        out[f"sketches.{name}.serde_ms"] = (
            _median_s(lambda: cls.from_bytes(a.to_bytes())) * 1e3
        )
    return out
