"""Frequency-moment operators over the count sketch (sketches/countsketch.py).

The missing planner inputs at 100 TB: before committing a shuffle join on
a possibly-skewed key you want (a) UNBIASED per-key frequency estimates
(CMS only overestimates — adversarially so under the exact Zipf skew that
makes the question matter) and (b) the SELF-JOIN SIZE ``F2 = Σ count(x)²``
— the expected output rows of the key's self-equi-join and the standard
skew statistic (F2/N ≫ average count ⇒ salt or broadcast). Both come out
of ONE count-sketch state built in one scan through the generic
partial/merge pipeline (``operators/sketch_agg.py``): the shuffle carries
state-sized partials, never rows, and the probe paths mirror the CMS
family exactly — a broadcast pandas kernel and a zero-Python whole-stage
codegen probe with identical estimates by construction.

Published guarantees (Charikar–Chen–Farach-Colton 2002; Alon–Matias–
Szegedy 1996): ``|est − true| ≤ ε·√F2`` and ``|F2_est − F2| ≤ ε'·F2``
each w.p. ≥ 1−δ at ``w = O(1/ε²)``, ``d = O(log 1/δ)`` — gated in
``tests/test_countsketch.py`` and generatively (bit-equality merge
family) in ``tests/test_properties.py``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType

from probabilistic_rs_spark.common import published_state, relation_probe
from probabilistic_rs_spark.errors import SketchConfigError
from probabilistic_rs_spark.sketches.countsketch import CountSketch


def build_cs_state(
    df: DataFrame,
    key_col: str,
    eps: float = 0.02,
    delta: float = 0.001,
    tree_fanin: int | str | None = "auto",
) -> bytes:
    """Distributed count-sketch build over a key column; returns the merged
    state bytes on the driver (the thing callers broadcast / probe).

    Plan: scan → JVM KM base-hash pair (whole-stage codegen) → mapInArrow
    bucket/sign scatter (one partial row per partition) → single state
    shuffle → matrix-add fold. Shuffled volume = partials × state bytes,
    independent of row count."""
    from probabilistic_rs_spark.operators.sketch_agg import SketchSpec, build_global_state

    spec = SketchSpec("cs", "cs", key_col, {"eps": eps, "delta": delta})
    return build_global_state(df, spec, tree_fanin=tree_fanin)


def build_cs_state_weighted(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    eps: float = 0.02,
    delta: float = 0.001,
    tree_fanin: int | None = None,
) -> bytes:
    """Weighted / TURNSTILE build: each row contributes ``weight`` to its
    key — weights may be NEGATIVE (deletions). The count sketch is a
    linear sketch, so the turnstile model holds by construction (the
    published setting of Charikar et al. / AMS): inserting then deleting
    is bit-identical to never inserting, with no tombstones, no rebuild,
    and no per-family delete machinery — the contrast with the
    cuckoo/quotient ops-log folds, where deletion needs shard routing and
    generation chaining. Partial emission reuses the generic merge stage
    (``sketch_merge``) so fold order stays partition-id-sorted and
    bit-deterministic."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from probabilistic_rs_spark.operators.sketch_agg import (
        SketchSpec,
        native_bloom_base_hash_exprs,
        sketch_merge,
    )

    spec = SketchSpec("cs", "cs", key_col, {"eps": eps, "delta": delta})
    h1, h2 = native_bloom_base_hash_exprs(F.col(key_col))
    projected = df.select(
        h1.alias("__h1"), h2.alias("__h2"), F.col(weight_col).cast("long").alias("__w")
    )
    out_schema = StructType(
        [
            StructField("__pid", IntegerType(), False),
            StructField("cs_state", BinaryType(), False),
            StructField("n_updates", LongType(), False),
        ]
    )
    arrow_schema = to_arrow_schema(out_schema)
    eps_l, delta_l = eps, delta

    def build(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        sk = CountSketch(eps=eps_l, delta=delta_l)
        n = 0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            base = np.stack(
                [
                    batch.column("__h1").to_numpy(zero_copy_only=False),
                    batch.column("__h2").to_numpy(zero_copy_only=False),
                ],
                axis=1,
            ).astype(np.int64, copy=False)
            w = batch.column("__w").to_numpy(zero_copy_only=False)
            # a null weight arrives as NaN; silently casting would inject
            # INT64_MIN into the table — fail loudly instead
            if w.dtype.kind == "f" and np.isnan(w).any():
                raise SketchConfigError(
                    "null weight in weighted count-sketch build"
                )
            w = w.astype(np.int64)
            sk.update_base_hashes(base, w)
            n += batch.num_rows
        if n == 0:
            return
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([pid], type=pa.int32()),
                pa.array([sk.to_bytes()], type=pa.binary()),
                pa.array([n], type=pa.int64()),
            ],
            schema=arrow_schema,
        )

    partials = projected.mapInArrow(build, out_schema)
    merged = sketch_merge(partials, [], [spec], tree_fanin=tree_fanin)
    row = merged.select("cs_state").head()
    if row is None:  # empty input → empty sketch, not a crash
        return spec.make().to_bytes()
    return bytes(row["cs_state"])


def cs_apply_ops_df(
    ops_df: DataFrame,
    key_col: str,
    op_col: str = "op",
    eps: float = 0.02,
    delta: float = 0.001,
    state: bytes | None = None,
) -> bytes:
    """Fold an insert/delete ops log into a count-sketch state — the
    turnstile sibling of ``cuckoo_apply_ops_df`` / ``quotient_apply_ops_df``
    with none of their ordering constraints: linearity makes the fold
    ORDER-FREE (any interleaving of inserts and deletes over any
    partitioning yields bit-identical bytes), and over-deletion is
    representable (a net-negative key simply estimates negative — loud in
    a way a membership structure cannot be). Unknown op tags raise.
    ``state``: optional existing generation to fold on top of."""
    # op-tag validation is TASK-SIDE, inside the build scan itself (the
    # house idiom — common.op_masks in the cogrouped folds): a driver-side
    # distinct() would cost a full extra shuffle of the ops log just to
    # validate. raise_error fires on the first unknown tag in any task.
    op = F.col(op_col)
    weighted = ops_df.select(
        F.col(key_col),
        F.when(op == "insert", F.lit(1))
        .when(op == "delete", F.lit(-1))
        .otherwise(
            F.raise_error(
                F.concat(F.lit("unknown op tag in ops log: "), op.cast("string"))
            ).cast("int")
        )
        .alias("__w"),
    )
    blob = build_cs_state_weighted(weighted, key_col, "__w", eps=eps, delta=delta)
    if state is None:
        return blob
    gen = CountSketch.from_bytes(state)
    gen.merge_bytes(blob)
    return gen.to_bytes()


def cs_probe(
    probe_df: DataFrame,
    key_col: str,
    state: bytes,
    out_col: str = "est_count",
) -> DataFrame:
    """Adds a bigint UNBIASED point-estimate column (median over the d
    signed cell reads; ``|est − true| ≤ ε·√F2`` w.p. ≥ 1−δ). Broadcast
    state, whole-Arrow-batch kernel, zero exchanges in the probe plan.
    The probe derives buckets and signs from the SAME JVM KM base-hash
    pair the build projected (``native_bloom_base_hash_exprs``), so probe
    and build agree byte-for-byte."""
    from pyspark.sql.functions import pandas_udf

    from probabilistic_rs_spark.operators.sketch_agg import native_bloom_base_hash_exprs

    get_cs = published_state(
        probe_df.sparkSession.sparkContext, state, CountSketch
    )

    @pandas_udf(LongType())
    def est(h1s: pd.Series, h2s: pd.Series) -> pd.Series:
        cs = get_cs()
        base = np.stack(
            [h1s.to_numpy(dtype="int64"), h2s.to_numpy(dtype="int64")], axis=1
        )
        return pd.Series(cs.estimate_base_hashes(base))

    h1, h2 = native_bloom_base_hash_exprs(F.col(key_col))
    return probe_df.withColumn(out_col, est(h1, h2))


def _batcher_pairs(n: int) -> list[tuple[int, int]]:
    """Comparator schedule of Batcher's odd-even mergesort over ``n``
    wires (n a power of two) — Batcher 1968; 19 comparators at n=8."""
    pairs: list[tuple[int, int]] = []

    def merge(lo: int, hi: int, r: int) -> None:
        step = r * 2
        if step < hi - lo:
            merge(lo, hi, step)
            merge(lo + r, hi, step)
            for i in range(lo + r, hi - r, step):
                pairs.append((i, i + r))
        else:
            pairs.append((lo, lo + r))

    def sort(lo: int, hi: int) -> None:
        if hi - lo >= 1:
            mid = lo + (hi - lo) // 2
            sort(lo, mid)
            sort(mid + 1, hi)
            merge(lo, hi, 1)

    sort(0, n - 1)
    return pairs


def median_expr(reads: list) -> "F.Column":
    """Exact median of an ODD number of bigint expressions as a
    least/greatest sorting network (Batcher odd-even mergesort, padded
    with +inf sentinels), returning the middle wire.

    Why not ``element_at(array_sort(...), m)``: ``ArraySort`` is a
    CodegenFallback expression — placing it in the per-row path drops the
    whole operator out of whole-stage codegen into interpreted eval, and
    the fallback re-evaluates the ENTIRE child tree per row with no
    subexpression elimination (measured 4.1 s vs 0.35 s for 48k probes ×
    d=7 at sf0.1 — ~60 µs/row of interpreted xxhash64 re-evaluation; the
    same class of trap as round 6's map-lookup finding). ``least``/
    ``greatest`` stay inside codegen, and codegen's subexpression
    elimination collapses the network's shared wires, so the comparator
    count (19 at d=7) is the real cost."""
    d = len(reads)
    if d == 1:
        return reads[0]
    length = 1
    while length < d:
        length <<= 1
    # +inf sentinels sort to the top and never reach the middle wire
    wires = list(reads) + [F.lit(1 << 62)] * (length - d)
    for a, b in _batcher_pairs(length):
        lo, hi = F.least(wires[a], wires[b]), F.greatest(wires[a], wires[b])
        wires[a], wires[b] = lo, hi
    return wires[d // 2]


def native_cs_probe(
    probe_df: DataFrame,
    key_col: str,
    state: bytes,
    out_col: str = "est_count",
) -> DataFrame:
    """``cs_probe`` with ZERO Python in the per-row path — the signed
    member of the native-probe family (native Bloom / quotient / cuckoo /
    CMS probes).

    Every kernel step is an exact JVM long expression (derivation in
    ``sketches/countsketch.py``: bucket chain ``(h1 + j·h2) & (w−1)`` with
    ``j·h2 < 31·2^56``, sign chain ``(h2 + j·(h1≫7)) ≫ 20 & 1`` below
    2^61 — ANSI arithmetic cannot overflow and signed math equals the
    kernel's uint64 math). The d×w matrix rides a broadcast one-row flat
    ``array<bigint>`` relation (index ``j·w + bucket``); the estimate is
    the MEDIAN of the d signed lookups, computed by a least/greatest
    sorting network (:func:`median_expr` — exact for odd d, and unlike
    ``array_sort`` it stays inside whole-stage codegen). Identical
    estimates to :func:`cs_probe` by construction.

    The estimate column is wrapped in ``pushdown_barrier`` (round 8):
    without it a caller's ``.where(est > 0)`` inlines the whole median
    network into the broadcast join's condition, which is evaluated
    WITHOUT common-subexpression elimination — the shared KM hashes and
    network wires get re-evaluated per reference per row (measured
    4.1 s → 0.58 s over 10⁶ probes with the barrier; the barrier keeps
    the estimate in a ProjectExec, where codegen CSE collapses the
    network to its 2 hashes + d reads + comparator count)."""
    from probabilistic_rs_spark.operators.sketch_agg import (
        native_bloom_base_hash_exprs,
        pushdown_barrier,
    )

    cs = CountSketch.from_bytes(state)
    h1, h2 = native_bloom_base_hash_exprs(F.col(key_col))
    mask = F.lit(int(cs.w - 1))

    def est(flat):
        # flat d·w layout: one element_at per read (index j·w + bucket)
        reads = []
        for j in range(cs.d):
            bucket = (h1 + F.lit(int(j)) * h2).bitwiseAND(mask)
            sign_bit = (
                F.call_function(
                    "shiftrightunsigned",
                    h2 + F.lit(int(j)) * F.call_function("shiftrightunsigned", h1, F.lit(7)),
                    F.lit(20),
                )
            ).bitwiseAND(F.lit(1))
            sign = F.lit(1) - F.lit(2) * sign_bit
            reads.append(
                sign
                * F.element_at(flat, (F.lit(int(j) * cs.w) + bucket).cast("int") + F.lit(1))
            )
        return pushdown_barrier(median_expr(reads))

    return relation_probe(
        probe_df, state, "__cs_flat array<bigint>", cs.table.ravel, est, out_col
    )


def join_skew_advisor(
    df: DataFrame,
    key_col: str,
    eps: float = 0.02,
    delta: float = 0.001,
    theta_k: int = 16384,
    mg_k: int = 2048,
    top: int = 10,
    broadcast_threshold_rows: int = 1_000_000,
    skew_ratio_threshold: float = 16.0,
    tree_fanin: int | str | None = "auto",
) -> dict:
    """ONE-SCAN join-plan report for a candidate join key — the question
    a 100 TB pipeline asks before committing a shuffle join. Composes
    three families in a single pass through the generic multi-spec
    pipeline (one ``mapInArrow`` build, one state-sized shuffle — the
    flagship query's one-scan contract applied to planning):

    * theta/KMV → ``n_distinct`` (exact below ``theta_k``),
    * count sketch → ``f2`` = self-join size = expected output rows of a
      self-equi-join on the key,
    * Misra–Gries → the actual hottest keys with estimate + certificate.

    Derived statistics:

    * ``avg_freq = n / n_distinct`` — mean rows per key;
    * ``skew_ratio = f2 / (n · avg_freq) = f2 · n_distinct / n²`` — the
      ratio of the key's second moment to a perfectly uniform key's
      (1.0 = uniform, ≫1 = a few keys dominate; equals the factor by
      which the biggest reducer outweighs the average in the worst case);
    * ``top_keys`` — the MG retained top keys with est counts + shares.

    ``recommendation``: ``broadcast`` when the distinct-key side is small
    enough to broadcast (``n_distinct ≤ broadcast_threshold_rows``),
    else ``salt`` when ``skew_ratio > skew_ratio_threshold`` (salt the
    listed hot keys, or rely on AQE skew-join with these stats as
    evidence), else ``shuffle``. Thresholds are caller-tunable; the
    numbers travel in the report so the decision is auditable."""
    from probabilistic_rs_spark.operators.sketch_agg import (
        SketchSpec,
        resolve_tree_fanin,
        sketch_aggregate,
    )
    from probabilistic_rs_spark.sketches.mg import MisraGries
    from probabilistic_rs_spark.sketches.theta import ThetaSketch

    specs = [
        SketchSpec("adv_theta", "theta", key_col, {"k": theta_k}),
        SketchSpec("adv_cs", "cs", key_col, {"eps": eps, "delta": delta}),
        SketchSpec("adv_mg", "mg", key_col, {"k": mg_k}),
    ]
    merged = sketch_aggregate(
        df, [], specs, tree_fanin=resolve_tree_fanin(df, tree_fanin)
    )
    row = merged.head()
    if row is None:
        return {
            "n": 0, "n_distinct": 0.0, "f2": 0.0, "avg_freq": 0.0,
            "skew_ratio": 0.0, "top_keys": [], "recommendation": "broadcast",
        }
    n = int(row["n_updates"])
    th = ThetaSketch.from_bytes(bytes(row["adv_theta_state"]))
    cs = CountSketch.from_bytes(bytes(row["adv_cs_state"]))
    mg = MisraGries.from_bytes(bytes(row["adv_mg_state"]))
    n_distinct = th.estimate()
    f2 = cs.f2_estimate()
    avg_freq = n / n_distinct if n_distinct else 0.0
    skew_ratio = (f2 * n_distinct) / (n * n) if n else 0.0
    d_bound = mg.max_undercount()
    top_keys = [
        {
            "key": k.decode("utf-8", "replace"),
            "est_count": int(c),
            "max_undercount": float(d_bound),
            "share": c / n if n else 0.0,
        }
        for k, c in mg.top()[: int(top)]
    ]
    if n_distinct and n_distinct <= broadcast_threshold_rows:
        rec = "broadcast"
    elif skew_ratio > skew_ratio_threshold:
        rec = "salt"
    else:
        rec = "shuffle"
    return {
        "n": n,
        "n_distinct": n_distinct,
        "f2": f2,
        "avg_freq": avg_freq,
        "skew_ratio": skew_ratio,
        "top_keys": top_keys,
        "recommendation": rec,
        "estimator_modes": {
            "theta_exact": th.is_exact,
            "cs_point_error_bound": cs.point_error_bound(),
            "mg_max_undercount": float(d_bound),
        },
    }


def f2_from_state(state: bytes) -> float:
    """AMS second-moment / self-join-size estimate from a built state
    (driver-side, O(d·w)): ``F2 = Σ_x count(x)²`` within ``ε'·F2``
    w.p. ≥ 1−δ. The skew statistic: F2/N is the hot-key-weighted mean
    frequency — compare against N/distinct before picking a join plan."""
    return CountSketch.from_bytes(state).f2_estimate()


def self_join_size(
    df: DataFrame,
    key_col: str,
    eps: float = 0.02,
    delta: float = 0.001,
    tree_fanin: int | str | None = "auto",
) -> float:
    """One-scan self-join-size estimate of ``df ⋈ df`` on ``key_col``:
    build + F2 read. The exact answer is ``SELECT SUM(c*c) FROM (GROUP BY
    key)`` — a full shuffle of every distinct key; this is a state-sized
    shuffle instead."""
    return f2_from_state(build_cs_state(df, key_col, eps=eps, delta=delta, tree_fanin=tree_fanin))
