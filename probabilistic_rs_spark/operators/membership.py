"""Bloom membership operators — build, broadcast, probe.

The probe is the Spark restatement of the reference's ``contains_bulk``
(``src/bloom/filter.rs:440-477``): the final filter bytes are broadcast to
executors once (``common.published_state``), and a vectorized
``pandas_udf`` tests a whole Arrow batch per call. At scale this is the
approximate semi-join the Bloom filter exists for (SURVEY.md §2.7): a
~1–100 MB broadcast replaces shuffling the full probe side.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from probabilistic_rs_spark.common import published_state, relation_probe
from probabilistic_rs_spark.operators.sketch_agg import SketchSpec, build_global_state
from probabilistic_rs_spark.sketches.bloom import BloomSketch


def build_bloom_state(
    df: DataFrame,
    item_col: str,
    capacity: int,
    false_positive_rate: float = 0.01,
    tree_fanin: int | str | None = "auto",
) -> bytes:
    """Distributed Bloom build: partial filters per partition, bitwise-OR
    tree merge, returns the final state bytes on the driver.

    ``tree_fanin="auto"``: pre-merge level only when the partition count
    warrants it (then the merge runs executor-side with bounded fan-in);
    with few partitions the sparse partials are collected and folded
    driver-side directly. An explicit int is always honored; ``None``
    forces the driver fold."""
    spec = SketchSpec(
        "bloom",
        "bloom",
        item_col,
        {"capacity": capacity, "false_positive_rate": false_positive_rate},
    )
    return build_global_state(df, spec, tree_fanin)


def bloom_probe(
    probe_df: DataFrame,
    item_col: str,
    state: bytes,
    out_col: str = "is_member",
) -> DataFrame:
    """Adds a boolean membership column. Zero false negatives guaranteed
    (reference gate ``tests/core_bloom_filter_tests.rs:402-420``); false
    positives bounded by the filter's configured FPR."""
    get_filter = published_state(
        probe_df.sparkSession.sparkContext, state, BloomSketch
    )

    @pandas_udf(BooleanType())
    def probe(items: pd.Series) -> pd.Series:
        import pyarrow as pa

        from probabilistic_rs_spark.functions.hashing import pad_batch_arrow

        sk = get_filter()
        buf, lens = pad_batch_arrow(
            pa.Array.from_pandas(items, type=pa.string()), scratch_key="bloom_probe"
        )
        return pd.Series(sk.contains_padded(buf, lens))

    return probe_df.withColumn(out_col, probe(F.col(item_col).cast("string")))


# the reserved column a semi filter probes into: never a caller's column
_SEMI_COL = "__semi_member"


def _semi_filter(probe, probe_df: DataFrame, item_col: str, state, **kwargs) -> DataFrame:
    """Keep the rows ``probe`` marks as (probably) members: probe into a
    reserved column, filter on it and drop it, so every column of
    ``probe_df`` (an ``is_member`` among them) passes through as it is."""
    return (
        probe(probe_df, item_col, state, out_col=_SEMI_COL, **kwargs)
        .where(F.col(_SEMI_COL))
        .drop(_SEMI_COL)
    )


def bloom_semi_filter(
    probe_df: DataFrame, item_col: str, state: bytes
) -> DataFrame:
    """Approximate semi-join pre-filter: keep rows whose key is (probably)
    in the filter. At 100 TB this prunes the expensive exact join's input;
    the exact join downstream removes the ≤FPR false positives."""
    return _semi_filter(bloom_probe, probe_df, item_col, state)


# ---------------------------------------------------------------------------
# Native-hash (JVM-probe) family — VERDICT r2 "What's wrong #2" fix.
# Same filter math/sizing/state machinery, but bit positions come from the
# xxhash64 expression family so the PROBE is pure whole-stage-codegen JVM
# work (no Python, no Arrow boundary) and the BUILD kernel is a bare bit
# scatter. The reference-parity murmur/fnv family above remains the
# bit-parity oracle; tests cross-check the two (zero false negatives +
# FPR bound hold for both).
# ---------------------------------------------------------------------------


def build_native_bloom_state(
    df: DataFrame,
    item_col: str,
    capacity: int,
    false_positive_rate: float = 0.01,
    tree_fanin: int | str | None = "auto",
) -> bytes:
    """Distributed native-hash Bloom build. Positions are computed by JVM
    ``xxhash64`` expressions inside the scan's codegen stage; the Python
    kernel only scatters bits into sparse partials (no padding, no
    hashing), which are OR-merged exactly like the parity family."""
    spec = SketchSpec(
        "nbloom",
        "nbloom",
        item_col,
        {"capacity": capacity, "false_positive_rate": false_positive_rate},
    )
    return build_global_state(df, spec, tree_fanin)


def _native_member_expr(item_col: str, warr, m: int, k: int):
    """The JVM membership predicate: AND over k bit tests
    ``shiftrightunsigned(words[pos_i >> 6], pos_i & 63) & 1 = 1`` with
    ``pos_i = pmod(h1 + i·h2, m)`` (KM double hashing over two xxhash64
    evaluations, see ``native_bloom_position_exprs``) — the
    same expressions the build used, so zero false negatives hold by
    construction."""
    from functools import reduce

    from probabilistic_rs_spark.operators.sketch_agg import native_bloom_position_exprs

    tests = []
    for p in native_bloom_position_exprs(F.col(item_col), m, k):
        word = F.element_at(warr, F.shiftright(p, 6).cast("int") + F.lit(1))
        bit = F.call_function(
            "shiftrightunsigned", word, p.bitwiseAND(F.lit(63)).cast("int")
        ).bitwiseAND(F.lit(1))
        tests.append(bit == F.lit(1))
    return reduce(lambda a, b: a & b, tests)


def native_bloom_probe(
    probe_df: DataFrame,
    item_col: str,
    state: bytes,
    out_col: str = "is_member",
) -> DataFrame:
    """Adds a boolean membership column with ZERO Python in the probe path.

    The merged filter's bit array rides a BroadcastNestedLoopJoin against
    a single cached ``array<bigint>`` row (no shuffle); each probe row
    then evaluates the k bit tests fully inside the JVM. False positives
    bounded by the configured FPR; zero false negatives (build and probe
    share the exact position expressions).

    The membership column is wrapped in ``pushdown_barrier`` (round 8):
    a downstream ``.where(is_member)`` otherwise inlines the k bit tests
    into the broadcast join's condition, which is evaluated WITHOUT
    whole-stage codegen's common-subexpression elimination — the two KM
    base hashes get re-evaluated once per bit test per row. The barrier
    keeps the predicate in a ProjectExec (one evaluation, hashes CSE'd)
    and the filter reads the materialized column."""
    from probabilistic_rs_spark.operators.sketch_agg import pushdown_barrier
    from probabilistic_rs_spark.sketches.native_bloom import NativeBloomSketch

    sk = NativeBloomSketch.from_bytes(state)
    return relation_probe(
        probe_df, state, "__nbf_words array<bigint>", sk.words,
        lambda words: pushdown_barrier(
            _native_member_expr(item_col, words, sk.m, sk.k), boolean=True
        ),
        out_col,
    )


def native_bloom_semi_filter(
    probe_df: DataFrame, item_col: str, state: bytes
) -> DataFrame:
    """`bloom_semi_filter` on the native-hash family: the 100 TB semi-join
    pre-filter with the probe predicate evaluated ONCE, entirely
    JVM-side — in a ProjectExec behind a ``pushdown_barrier`` rather
    than as the join condition (round 8): join conditions are evaluated
    without codegen's common-subexpression elimination, so the k bit
    tests each re-derived both KM base hashes per row; the barriered
    projection computes the two hashes once and the filter reads the
    materialized bit."""
    return _semi_filter(native_bloom_probe, probe_df, item_col, state)
