"""Generic partial/merge sketch aggregation — the core distributed operator.

This is the Spark restatement of the reference's whole execution model
(SURVEY.md §3.1): the reference's ``insert_bulk`` (batch-hash, then one
lock — ``src/bloom/filter.rs:395-438``) becomes a ``mapInArrow`` kernel
that absorbs a whole Arrow batch per Python call; the merge step the
reference never ships (bitwise OR / register max / counter add /
compactor merge) becomes an ``applyInArrow`` group-merge after a single
shuffle of tiny binary states.

Plan shape (the only network boundary is the one partial-state shuffle):

    scan (column-pruned: group cols + value cols only)
      → [JVM] xxhash64 / cast / encode           (whole-stage codegen)
      → mapInArrow partial-build                 (1 row per key per partition)
      → exchange on group key                    (bytes ≪ input data)
      → [optional pre-merge by pid % fanin]      (tree reduce for huge fan-in)
      → applyInArrow merge                       (1 row per key)

Scale notes (100 TB / 1000 executors):
* Shuffled volume is ``n_keys_per_partition × state_bytes`` — independent
  of row count. A 16 KB HLL over 100k input partitions shuffles ~1.6 GB
  total; with ``tree_fanin`` the final reducer sees ``fanin`` rows max.
* Partial build is map-side combine: one output row per (partition, key).
* Merge order inside a group is sorted by partition id, so results are
  bit-identical across runs, shuffle orders, and parallelism levels for
  Bloom/HLL/CMS (and deterministic for t-digest/KLL too at a fixed input
  partitioning).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    MapType,
    StructField,
    StructType,
)

from probabilistic_rs_spark.errors import SketchConfigError
from probabilistic_rs_spark.sketches.bloom import BloomConfig, BloomSketch
from probabilistic_rs_spark.sketches.cms import CountMinSketch
from probabilistic_rs_spark.sketches.hll import HyperLogLog
from probabilistic_rs_spark.sketches.kll import KLLSketch
from probabilistic_rs_spark.sketches.tdigest import TDigest
from probabilistic_rs_spark.worker import drop_zip_importers

# value representation each sketch kind consumes
_VALUE_KIND = {
    "bloom": "bytes",   # raw bytes (reference-parity murmur3+fnv hashing in kernel)
    "nbloom": "hash2",  # JVM-side (h1, h2) xxhash64 pair → kernel derives KM positions + scatters
    "hll": "hash",      # JVM-side xxhash64 → kernel only does register max
    "cms": "hash",      # JVM-side xxhash64 → kernel only does counter scatter
    "quotient": "hash",  # JVM-side xxhash64 → kernel takes top p bits, sorts
    "theta": "hash",    # JVM-side xxhash64 → kernel keeps the k smallest (KMV)
    "mg": "bytes",      # raw keys (MG carries ACTUAL keys — no hashing at all)
    "cs": "hash2",      # KM base-hash pair → kernel derives buckets AND signs

    "tdigest": "float",
    "kll": "float",
}


@dataclass(frozen=True)
class SketchSpec:
    """One sketch over one input column.

    ``params`` are forwarded to the sketch constructor:
      bloom: capacity, false_positive_rate; hll: p, sparse_threshold;
      cms: eps, delta; tdigest: delta; kll: k.
    """

    name: str
    kind: str
    column: str
    params: dict = field(default_factory=dict)

    def __post_init__(self):
        if self.kind not in _VALUE_KIND:
            raise SketchConfigError(f"unknown sketch kind {self.kind!r}")
        # validate params driver-side, before any job launches (reference
        # idiom: config validation at construction, src/bloom/config.rs:31-44)
        self.make()

    def make(self):
        if self.kind == "bloom":
            return BloomSketch(BloomConfig(**self.params))
        if self.kind == "nbloom":
            from probabilistic_rs_spark.sketches.native_bloom import NativeBloomSketch

            return NativeBloomSketch(BloomConfig(**self.params))
        if self.kind == "hll":
            return HyperLogLog(**self.params)
        if self.kind == "cms":
            return CountMinSketch(**self.params)
        if self.kind == "quotient":
            from probabilistic_rs_spark.sketches.quotient import QuotientFilter

            return QuotientFilter(**self.params)
        if self.kind == "theta":
            from probabilistic_rs_spark.sketches.theta import ThetaSketch

            return ThetaSketch(**self.params)
        if self.kind == "mg":
            from probabilistic_rs_spark.sketches.mg import MisraGries

            return MisraGries(**self.params)
        if self.kind == "cs":
            from probabilistic_rs_spark.sketches.countsketch import CountSketch

            return CountSketch(**self.params)
        if self.kind == "tdigest":
            return TDigest(**self.params)
        return KLLSketch(**self.params)

    def make_builder(self):
        """Build-side accumulator: same wire format as :meth:`make`'s
        sketch, but Bloom partials use the dense-free index builder — a
        partition task never allocates the O(m) dense array just to emit a
        sparse partial (see sketches.bloom.BloomPartialBuilder)."""
        if self.kind == "bloom":
            from probabilistic_rs_spark.sketches.bloom import BloomPartialBuilder

            return BloomPartialBuilder(BloomConfig(**self.params))
        if self.kind == "nbloom":
            from probabilistic_rs_spark.sketches.native_bloom import (
                NativeBloomPartialBuilder,
            )

            return NativeBloomPartialBuilder(BloomConfig(**self.params))
        return self.make()

    @property
    def value_kind(self) -> str:
        return _VALUE_KIND[self.kind]

    @property
    def state_col(self) -> str:
        return f"{self.name}_state"


def native_bloom_base_hash_exprs(col: Column) -> tuple[Column, Column]:
    """The TWO base hashes of the native family's Kirsch–Mitzenmacher
    double-hashing scheme (the reference's own idiom, ``src/hash.rs:
    97-101`` — two hashes derive all k positions):

        h1 = xxhash64(item)          >> 2   (62 bits)
        h2 = xxhash64(lit(1), item)  >> 8   (56 bits)

    The unsigned right shifts bound ``h1 + i·h2`` below 2^63 for k ≤ 32,
    so the position arithmetic can never overflow int64 — load-bearing
    under ANSI mode (Spark 4 default), where a long overflow is a runtime
    error, and it keeps JVM signed-int64 arithmetic bit-equal to the
    kernel's uint64 numpy arithmetic. The shifts discard nothing that
    matters: positions are taken mod m < 2^32."""
    s = col.cast("string")
    h1 = F.shiftrightunsigned(F.xxhash64(s), 2)
    h2 = F.shiftrightunsigned(F.xxhash64(F.lit(1), s), 8)
    return h1, h2


def native_bloom_position_exprs(col: Column, m: int, k: int) -> list[Column]:
    """The native-hash Bloom position family — Kirsch–Mitzenmacher over
    two JVM xxhash64 evaluations:

        pos_i = pmod(h1 + i·h2, m)      i = 0..k-1

    (KM preserves the asymptotic FPR of k independent hashes — Kirsch &
    Mitzenmacher, ESA'06 — and is what the reference-parity family uses
    too, ``src/hash.rs:97-101``.) Build kernel and probe expressions both
    derive positions from the SAME (h1, h2) definitions, so zero false
    negatives hold by construction; vs k independent xxhash64 calls this
    runs 2 string hashes instead of k on both build and probe."""
    if k > 32:
        raise SketchConfigError(
            f"native Bloom double-hashing supports k <= 32 (got {k}); "
            "such a k implies an extreme FPR target — use the parity family"
        )
    h1, h2 = native_bloom_base_hash_exprs(col)
    return [
        F.pmod(h1 + F.lit(int(i)) * h2, F.lit(int(m))) for i in range(k)
    ]


def pushdown_barrier(col: Column, boolean: bool = False) -> Column:
    """Value-preserving pushdown barrier for the native (JVM-expression)
    probe family: ``col + monotonically_increasing_id()·0`` — numerically
    the identity, but the nondeterministic term stops the optimizer from
    substituting the probe expression into a downstream filter.

    Why this matters (measured, round 8): a caller's
    ``.where(est > 0)`` / ``.where(is_member)`` otherwise gets the probe
    expression INLINED into the broadcast join's condition, and join
    conditions are evaluated without whole-stage codegen's common-
    subexpression elimination — every shared subtree of the probe
    expression (the KM base hashes, the median network's wires) is
    re-evaluated per reference per row. With the barrier the expression
    is computed once in a ProjectExec (which does eliminate common
    subexpressions) and the filter reads the materialized column:
    4.1 s → 0.58 s for the count-sketch median probe over 10⁶ rows.

    ``monotonically_increasing_id`` (unlike ``rand``/``shuffle``) embeds
    no per-query seed, so the generated code is byte-stable across
    actions and the codegen cache keeps hitting. Trade-off: unrelated
    downstream predicates also stop pushing past the probe projection —
    apply only where the probe expression is the dominant per-row cost
    (guide §4.4 makes the same trade for expensive UDFs).

    ``boolean=True`` uses the boolean identity ``col AND (id·0 = 0)``
    (the arithmetic form would change the column type); both forms
    preserve the column's nullability."""
    zero = F.monotonically_increasing_id() * F.lit(0)
    if boolean:
        return col & (zero == F.lit(0))
    return col + zero


def _value_expr(spec: SketchSpec) -> Column:
    """JVM-side value preparation — stays inside whole-stage codegen."""
    col = F.col(spec.column)
    vk = spec.value_kind
    if vk == "hash":
        return F.xxhash64(col.cast("string")).alias(f"__v_{spec.name}")
    if vk == "float":
        return col.cast("double").alias(f"__v_{spec.name}")
    if vk == "hash2":
        # ship ONLY the two KM base hashes (16 B/row regardless of k);
        # the kernel derives all k positions with one vectorized
        # broadcast-multiply — vs shipping a k-element position array
        # this halves Arrow volume at k=7 and cuts JVM hashing from k
        # string hashes to 2
        h1, h2 = native_bloom_base_hash_exprs(col)
        return F.array(h1, h2).alias(f"__v_{spec.name}")
    # bytes: canonical encoding = UTF-8 of the string form
    return F.encode(col.cast("string"), "UTF-8").alias(f"__v_{spec.name}")


def _update_sketch(spec: SketchSpec, sketch, prepared, rows: np.ndarray) -> None:
    vk = spec.value_kind
    if vk == "hash":
        sketch.update_hashes(prepared[rows])
    elif vk == "float":
        sketch.update_values(prepared[rows])
    elif vk == "hash2":
        sketch.update_base_hashes(prepared[rows])
    else:
        buf, lens = prepared
        sketch.update_padded(buf[rows], lens[rows])


def _prepare_value(spec: SketchSpec, batch, colname: str):
    import pyarrow as pa

    from probabilistic_rs_spark.functions.hashing import pad_batch_arrow

    arr = batch.column(colname)
    vk = spec.value_kind
    if vk == "hash":
        a = arr.to_numpy(zero_copy_only=False)
        return a.astype(np.int64, copy=False).view(np.uint64)
    if vk == "float":
        return arr.to_numpy(zero_copy_only=False)  # nulls → NaN, dropped in kernel
    if vk == "hash2":
        # fixed-2 list<int64> → (n, 2) matrix; flatten() honors slicing
        # offsets, so this is safe on sliced batches
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        flat = arr.flatten().to_numpy(zero_copy_only=False)
        n = len(arr)
        return flat.reshape(n, -1) if n else flat.reshape(0, 2)
    # per-spec scratch slot: the padded matrix is reused across batches
    # and tasks on this worker; the slot name keeps two byte-kind specs
    # in one batch from aliasing
    return pad_batch_arrow(arr, scratch_key=f"sketch:{colname}")


def _group_rows(batch, group_cols: list[str]) -> list[tuple[tuple, np.ndarray]]:
    """``(key tuple, row indices)`` per distinct group key of ``batch``,
    in first-appearance order with ascending row indices. Grouping runs
    in Arrow, so a null key is one group of its own (as in Spark's
    ``groupBy``) and keeps its column type: no float-NaN coercion."""
    import pyarrow as pa

    tbl = pa.Table.from_batches([batch]).select(group_cols)
    tbl = tbl.append_column("__row", pa.array(np.arange(batch.num_rows)))
    # single-threaded hash grouping emits groups in first-appearance order
    grouped = tbl.group_by(group_cols, use_threads=False).aggregate(
        [("__row", "list")]
    )
    lists = grouped.column("__row_list").combine_chunks()
    offsets = lists.offsets.to_numpy()
    rows = lists.values.to_numpy()
    keys = zip(*(grouped.column(g).to_pylist() for g in group_cols))
    return [
        (key, rows[offsets[i] : offsets[i + 1]]) for i, key in enumerate(keys)
    ]


def _check_group_cols(schema: StructType, group_cols: list[str]) -> None:
    """Arrow's hash grouping takes no nested keys; reject them here,
    before any job launches, rather than inside every task."""
    nested = [
        g
        for g in group_cols
        if isinstance(schema[g].dataType, (StructType, ArrayType, MapType))
    ]
    if nested:
        raise SketchConfigError(
            f"group columns {nested} have nested types (struct/array/map); "
            "sketch aggregation groups by atomic columns only"
        )


def sketch_partials(
    df: DataFrame, group_cols: list[str], specs: list[SketchSpec]
) -> DataFrame:
    """Stage 1: per-partition partial sketch states, one row per
    (partition, group key). Output columns:
    ``group_cols…, __pid int, {name}_state binary…, n_updates long``.
    """
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    proj = [F.col(g) for g in group_cols] + [_value_expr(s) for s in specs]
    projected = df.select(*proj)

    in_schema = projected.schema
    _check_group_cols(in_schema, group_cols)
    out_fields = [in_schema[g] for g in group_cols]
    out_fields.append(StructField("__pid", IntegerType(), False))
    out_fields += [StructField(s.state_col, BinaryType(), False) for s in specs]
    out_fields.append(StructField("n_updates", LongType(), False))
    out_schema = StructType(out_fields)
    arrow_schema = to_arrow_schema(out_schema)
    specs_local = list(specs)
    group_local = list(group_cols)

    def build(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa
        from pyspark import TaskContext

        drop_zip_importers()
        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        acc: dict[tuple, list] = {}
        counts: dict[tuple, int] = {}
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            prepared = [
                _prepare_value(s, batch, f"__v_{s.name}") for s in specs_local
            ]
            if group_local:
                items = _group_rows(batch, group_local)
            else:
                items = [((), np.arange(n))]
            for key, rows in items:
                sketches = acc.get(key)
                if sketches is None:
                    sketches = [s.make_builder() for s in specs_local]
                    acc[key] = sketches
                    counts[key] = 0
                counts[key] += len(rows)
                for spec, sk, prep in zip(specs_local, sketches, prepared):
                    _update_sketch(spec, sk, prep, rows)
        if not acc:
            return
        keys = list(acc.keys())
        arrays = []
        for i, g in enumerate(group_local):
            vals = [k[i] for k in keys]
            arrays.append(pa.array(vals, type=arrow_schema.field(i).type))
        arrays.append(pa.array([pid] * len(keys), type=pa.int32()))
        for j, spec in enumerate(specs_local):
            arrays.append(
                pa.array([acc[k][j].to_bytes() for k in keys], type=pa.binary())
            )
        arrays.append(pa.array([counts[k] for k in keys], type=pa.int64()))
        yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return projected.mapInArrow(build, out_schema)


def grouped_fold(df: DataFrame, keys: list[str], fold_fn, schema: StructType) -> DataFrame:
    """Group ``df`` by ``keys`` and map each group's rows, as one
    ``pa.Table``, through ``fold_fn`` to a ``pa.Table`` of ``schema``.
    The group crosses the Python boundary as Arrow columns: no pandas
    frame is built per group, and key columns keep their Arrow type
    (nulls, dates and strings pass through as they are)."""

    def fold(tbl):
        drop_zip_importers()
        return fold_fn(tbl)

    return df.groupBy(*keys).applyInArrow(fold, schema)


# Packed payload bytes a block-build partial task buffers before it emits
# a RecordBatch: bounds task memory whatever the partition size.
PACKED_FLUSH_BYTES = 16 << 20


def packed_block_build(
    df: DataFrame,
    key_field: StructField,
    positions_fn,
    n_cells: int,
    cells_per_block: int,
    scatter_fn,
    weighted: bool = False,
) -> DataFrame:
    """Build a blocks table ``(key, block int, values array<bigint>)``
    from per-row cell positions; no task ever assembles more than one
    block.

    ``positions_fn(batch)`` yields ``(key, positions uint64, weights
    int64 | None)`` for each Arrow batch of ``df``. A ``mapInArrow``
    partial stage splits the positions by block and packs each (key,
    block)'s within-block offsets as int32 bytes (``offs``), plus the
    weights as int64 bytes (``wts``) when ``weighted``: 4 or 12 B per
    position and no per-position row. It emits a RecordBatch whenever
    ``PACKED_FLUSH_BYTES`` of payload have accumulated. After one shuffle
    on (key, block), one Arrow group map concatenates each block's
    offsets and calls ``scatter_fn(n, offsets, weights)``, which returns
    the block's ``n`` cells as int64 (the last block is cut at
    ``n_cells``). The scatter must be order-free, as an OR or a sum is,
    so the table does not depend on partitioning or flush points.

    Why the scatter is an Arrow kernel and not SQL: a pure-JVM assembly
    (per-word ``bit_or``, then ``map_from_entries`` and per-index
    ``try_element_at``) is O(cells²) per block because Spark map lookups
    are linear scans (200+ s at sf0.1 against 7 s for this kernel), and a
    SQL pre-combine buys almost nothing when positions are nearly unique
    per cell."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    from probabilistic_rs_spark.common import split_by_block

    key = key_field.name
    mid_fields = [
        key_field,
        StructField("block", IntegerType(), False),
        StructField("offs", BinaryType(), False),
    ]
    if weighted:
        mid_fields.append(StructField("wts", BinaryType(), False))
    mid_schema = StructType(mid_fields)
    arrow_mid = to_arrow_schema(mid_schema)
    out_schema = StructType(
        [
            key_field,
            StructField("block", IntegerType(), False),
            StructField("values", ArrayType(LongType()), False),
        ]
    )
    arrow_out = to_arrow_schema(out_schema)
    cpb = int(cells_per_block)
    cpb_u = np.uint64(cpb)

    def partials(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        drop_zip_importers()
        acc: dict = {}  # (key, block) -> ([int32 offsets], [int64 weights])
        held = 0

        def flush() -> "pa.RecordBatch":
            (keys, blocks), parts = zip(*acc), list(acc.values())
            cols = [
                pa.array(keys, type=arrow_mid.field(0).type),
                pa.array(blocks, type=pa.int32()),
                pa.array([np.concatenate(o).tobytes() for o, _ in parts], pa.binary()),
            ]
            if weighted:
                cols.append(
                    pa.array([np.concatenate(w).tobytes() for _, w in parts], pa.binary())
                )
            acc.clear()
            return pa.RecordBatch.from_arrays(cols, schema=arrow_mid)

        for batch in batches:
            if batch.num_rows == 0:
                continue
            for kv, pos, wts in positions_fn(batch):
                blocks = pos // cpb_u
                offs = (pos - blocks * cpb_u).astype(np.int32)
                arrays = (offs, wts) if weighted else (offs,)
                for b, o, *w in split_by_block(blocks, *arrays):
                    o_parts, w_parts = acc.setdefault((kv, b), ([], []))
                    o_parts.append(o)
                    w_parts.extend(w)
                    held += o.nbytes + sum(x.nbytes for x in w)
                if held >= PACKED_FLUSH_BYTES:
                    yield flush()
                    held = 0
        if acc:
            yield flush()

    def unpack(col, dtype) -> np.ndarray:
        return np.frombuffer(b"".join(col.to_pylist()), dtype=dtype)

    def scatter(tbl: "pa.Table") -> "pa.Table":
        block = tbl.column("block")[0].as_py()
        wts = unpack(tbl.column("wts"), np.int64) if weighted else None
        vals = scatter_fn(
            min(cpb, n_cells - block * cpb), unpack(tbl.column("offs"), np.int32), wts
        )
        values = pa.ListArray.from_arrays(
            pa.array([0, len(vals)], pa.int32()), vals, type=arrow_out.field(2).type
        )
        return pa.Table.from_arrays(
            [tbl.column(key).slice(0, 1), tbl.column("block").slice(0, 1), values],
            schema=arrow_out,
        )

    mid = df.mapInArrow(partials, mid_schema)
    return grouped_fold(mid, [key, "block"], scatter, out_schema)


def _fold_states(cls, blobs: list[bytes]):
    """Fold serialized states, in the given order, into one ``cls``
    sketch — the one fold of the merge reducer and of the driver-side
    global build, so both give the same bytes. ``merge_bytes`` folds a
    serialized partial in place (one dense allocation per fold, not one
    per partial — Bloom/CMS)."""
    merged = cls.from_bytes(blobs[0])
    fold = getattr(merged, "merge_bytes", None)
    for b in blobs[1:]:
        if fold is not None:
            fold(b)
        else:
            merged.merge(cls.from_bytes(b))
    return merged


def _merge_fn_factory(group_cols: list[str], specs: list[SketchSpec], out_schema):
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(out_schema)
    classes = [type(s.make()) for s in specs]
    state_cols = [s.state_col for s in specs]

    def merge_fn(tbl: "pa.Table") -> "pa.Table":
        # deterministic merge order regardless of shuffle arrival
        tbl = tbl.take(pc.sort_indices(tbl.column("__pid")))
        cols = [tbl.column(g).slice(0, 1) for g in group_cols]
        cols.append(tbl.column("__pid").slice(0, 1))
        for cls, state_col in zip(classes, state_cols):
            merged = _fold_states(cls, tbl.column(state_col).to_pylist())
            cols.append(pa.array([merged.to_bytes()], type=pa.binary()))
        n = pc.sum(tbl.column("n_updates")).as_py()
        cols.append(pa.array([n], type=pa.int64()))
        return pa.Table.from_arrays(cols, schema=arrow_schema)

    return merge_fn


def sketch_merge(
    partials: DataFrame,
    group_cols: list[str],
    specs: list[SketchSpec],
    tree_fanin: int | None = None,
) -> DataFrame:
    """Stage 2: shuffle partials by group key and fold states.

    ``tree_fanin``: optional two-level reduce — partials are first merged
    within buckets of ``__pid % fanin`` so the final reducer per key sees at
    most ``fanin`` rows (treeAggregate analog; essential for global sketches
    over ~10⁵ input partitions).
    """
    in_schema = partials.schema
    mid_fields = [in_schema[g] for g in group_cols]
    mid_fields.append(StructField("__pid", IntegerType(), False))
    mid_fields += [StructField(s.state_col, BinaryType(), False) for s in specs]
    mid_fields.append(StructField("n_updates", LongType(), False))
    mid_schema = StructType(mid_fields)
    fn = _merge_fn_factory(group_cols, specs, mid_schema)

    cur = partials
    if tree_fanin and tree_fanin > 1:
        pre = cur.withColumn("__bucket", F.pmod(F.col("__pid"), F.lit(tree_fanin)))
        cur = grouped_fold(pre, group_cols + ["__bucket"], fn, mid_schema)

    if group_cols:
        merged = grouped_fold(cur, group_cols, fn, mid_schema)
    else:
        merged = grouped_fold(cur.withColumn("__g", F.lit(1)), ["__g"], fn, mid_schema)
    return merged.drop("__pid")


def resolve_tree_fanin(
    df: DataFrame, tree_fanin: int | str | None, auto_fanin: int = 64
) -> int | None:
    """Resolve a ``tree_fanin`` argument to an effective value.

    * ``"auto"`` — enable a pre-merge level of ``auto_fanin`` only when the
      input has enough partitions for it to pay off (> 2×fanin); below
      that the pre-merge is a pure extra shuffle + re-serialization round.
      Only this branch inspects the partition count (an RDD conversion of
      the analyzed plan — skipped entirely for explicit values).
    * explicit int — always honored (a caller who deliberately requests a
      pre-merge level gets one).
    * ``None`` — disabled.
    """
    if tree_fanin != "auto":
        return tree_fanin  # explicit int or None: caller decision is final
    if df.rdd.getNumPartitions() <= 2 * auto_fanin:
        return None
    return auto_fanin


def sketch_aggregate(
    df: DataFrame,
    group_cols: list[str],
    specs: list[SketchSpec],
    tree_fanin: int | None = None,
) -> DataFrame:
    """End-to-end: partial build → shuffle → merge. Returns one row per
    group with ``{name}_state`` binary columns + ``n_updates``."""
    return sketch_merge(sketch_partials(df, group_cols, specs), group_cols, specs, tree_fanin)


def _global_strategy(
    df: DataFrame, spec: SketchSpec, tree_fanin, auto_fanin: int = 64
) -> int | None:
    """Physical-strategy pick for :func:`build_global_state`: returns the
    effective fanin (``None`` = driver fold, int = executor-side merge
    after a bucketed pre-merge of that fanin, ``1`` = no pre-merge).

    Partition count alone is the wrong proxy for sketch kinds whose
    PARTIAL states are O(rows) rather than bounded (quotient: every
    partition ships its full fingerprint run, so a driver fold over P
    partitions collects the whole dataset's fingerprints P-partials-deep
    through py4j even though the merged state is the same bytes). For
    those kinds the bucketed path is preferred at any non-trivial
    partition count — the final merge then happens executor-side and the
    driver only ever pulls the single merged blob (VERDICT r3 #4). Kinds
    with ``FOLD_ON_EXECUTOR`` (dense partials of MBs: CMS) never fold on
    the driver."""
    sketch = spec.make()
    if tree_fanin == "auto" and getattr(sketch, "PARTIALS_UNBOUNDED", False):
        return auto_fanin if df.rdd.getNumPartitions() > 8 else None
    fanin = resolve_tree_fanin(df, tree_fanin, auto_fanin)
    if fanin is None and getattr(sketch, "FOLD_ON_EXECUTOR", False):
        return 1
    return fanin


def build_global_state(df: DataFrame, spec: SketchSpec, tree_fanin="auto") -> bytes:
    """GLOBAL (ungrouped) build of one sketch, returning the merged state
    bytes on the driver (where a global state always ends up — it is the
    thing callers broadcast).

    Two physical strategies, picked by :func:`_global_strategy` exactly
    like ``treeAggregate``: with a modest partition count (and bounded
    partial states) the per-partition partials are collected and
    folded driver-side (skipping a shuffle stage whose lone reducer's
    only consumer is the driver); with many partitions — or O(rows)
    (quotient) or MB-sized (CMS) partials — an executor-side merge,
    bucketed when the fanin is above 1, bounds what the driver sees.
    Fold order is partition-id-sorted → bit-identical states under any
    scheduling."""
    fanin = _global_strategy(df, spec, tree_fanin)
    if fanin is None:
        partials = sketch_partials(df, [], [spec]).select("__pid", spec.state_col)
        # Arrow-native collect: partial blobs land as one Arrow buffer
        # instead of P py4j-pickled Row objects — the collect was the
        # dominant cost of driver-fold builds at wide parallelism
        # (~28 MB of Bloom partials over 128 partitions at bench scale)
        tbl = partials.toArrow()
        rows = sorted(
            zip(tbl.column("__pid").to_pylist(), tbl.column(spec.state_col).to_pylist())
        )
        if not rows:  # empty input -> empty sketch, not a crash
            return spec.make().to_bytes()
        return _fold_states(type(spec.make()), [blob for _, blob in rows]).to_bytes()
    merged = sketch_aggregate(df, [], [spec], tree_fanin=fanin)
    row = merged.select(spec.state_col).head()
    if row is None:
        return spec.make().to_bytes()
    return bytes(row[spec.state_col])


# ---------------------------------------------------------------------------
# Finishers (estimate columns from merged states)
# ---------------------------------------------------------------------------

def with_hll_estimate(df: DataFrame, state_col: str, out_col: str) -> DataFrame:
    """Adds a bigint estimate column from an HLL state column."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(LongType())
    def est(states: pd.Series) -> pd.Series:
        drop_zip_importers()
        return states.map(
            lambda b: int(round(HyperLogLog.from_bytes(b).estimate()))
        ).astype("int64")

    return df.withColumn(out_col, est(F.col(state_col)))


def with_quantiles(
    df: DataFrame, state_col: str, kind: str, qs: list[float], out_col: str
) -> DataFrame:
    """Adds an array<double> column of quantile estimates from a
    t-digest/KLL state column."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    cls = TDigest if kind == "tdigest" else KLLSketch
    qs_local = list(qs)

    @pandas_udf(ArrayType(DoubleType()))
    def quant(states: pd.Series) -> pd.Series:
        drop_zip_importers()
        return states.map(
            lambda b: [float(x) for x in cls.from_bytes(b).quantile(np.array(qs_local))]
        )

    return df.withColumn(out_col, quant(F.col(state_col)))
