"""Heavy hitters via Count-Min Sketch + partition-local candidate tracking.

North-star query 2 (SURVEY.md §2.9): heavy-hitter hostnames over a
Zipf-skewed key column. The classic Spark failure mode is
``groupBy(host).count()`` shuffling a hot key to one reducer. This
operator never shuffles by the key at all:

* per input partition (mapInArrow): one CMS absorbing every key occurrence
  (vectorized: ``np.unique`` + weighted counter scatter), plus a BOUNDED
  Misra–Gries candidate tracker (:class:`BoundedCandidateTracker`) — a
  salted pre-aggregation where the "salt" is the physical partition id.
  Candidate memory is O(candidates_per_partition) regardless of key
  cardinality: at 100 TB a partition can see 10⁸ distinct urls without
  the tracker growing past ``4 × candidates_per_partition`` entries.
* one shuffle of (CMS state + candidate list) rows — size independent of
  both row count and key skew.
* final merge: CMS matrix-add, candidate-union, estimate = min-over-rows
  for each candidate. Overestimate ≤ εN with prob ≥ 1−δ.

A true heavy hitter (count ≥ N·φ) is guaranteed to be a local top
candidate in at least one partition when C is sized generously, since its
global share implies a matching local share in some partition.

Also provided: ``exact_group_count`` (plain built-in — already skew-safe
for counts via Spark's map-side partial aggregation) and
``salted_apply_in_pandas_agg`` — the salted two-stage pattern where it is
genuinely load-bearing: a grouped-map UDF's custom state has no partial
aggregation, so a hot key must be split across reducers by salt.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from probabilistic_rs_spark.common import relation_probe
from probabilistic_rs_spark.errors import SketchConfigError
from probabilistic_rs_spark.operators.sketch_agg import grouped_fold
from probabilistic_rs_spark.sketches.cms import CountMinSketch

_PARTIAL_SCHEMA = StructType(
    [
        StructField("__pid", IntegerType(), False),
        StructField("cms_state", BinaryType(), False),
        StructField("cand_keys", ArrayType(StringType()), False),
        StructField("cand_hashes", ArrayType(LongType()), False),
        StructField("n_updates", LongType(), False),
    ]
)

_FINAL_SCHEMA = StructType(
    [
        StructField("key", StringType(), False),
        StructField("est_count", LongType(), False),
    ]
)


class BoundedCandidateTracker:
    """Misra–Gries-style bounded heavy-hitter candidate tracker.

    Memory is O(prune_factor × capacity) keys at any input cardinality —
    the partition-local candidate set never grows with the number of
    distinct keys seen (the reference's bounded-state ethos,
    ``src/bloom/filter.rs`` word-packed state, applied to candidates).

    When the tracked set exceeds ``prune_factor × capacity``, every
    counter is decremented by the (capacity+1)-th largest count and
    non-positive entries are dropped — at most ``capacity`` survive.
    Standard MG guarantee: a key with true partition count
    > total/(capacity) can never be fully decremented away, so every
    genuine partition-local heavy hitter survives to the final merge.
    Counts are MG lower bounds used only for candidate *ranking*; the
    reported estimate always comes from the CMS.
    """

    __slots__ = ("capacity", "limit", "counts")

    def __init__(self, capacity: int, prune_factor: int = 4):
        self.capacity = int(capacity)
        self.limit = int(prune_factor) * self.capacity
        self.counts: dict = {}  # hash -> [count, key]

    def add_unique(self, hashes, counts, keys, first_idx) -> None:
        """Absorb one batch's np.unique output (unique hashes + their
        counts + the key string of each hash's first occurrence)."""
        c_ = self.counts
        for h, fi, c in zip(hashes.tolist(), first_idx.tolist(), counts.tolist()):
            ent = c_.get(h)
            if ent is None:
                c_[h] = [c, keys[fi]]
            else:
                ent[0] += c
        if len(c_) > self.limit:
            self._prune()

    def _prune(self) -> None:
        vals = np.fromiter(
            (e[0] for e in self.counts.values()), dtype=np.int64, count=len(self.counts)
        )
        # (capacity+1)-th largest count: at most `capacity` entries are
        # strictly greater, so the survivor set is bounded by construction
        delta = int(np.partition(vals, -self.capacity - 1)[-self.capacity - 1])
        self.counts = {
            h: [c - delta, k] for h, (c, k) in self.counts.items() if c > delta
        }

    def __len__(self) -> int:
        return len(self.counts)

    def top(self) -> list[tuple[int, list]]:
        """Top-``capacity`` candidates by (count desc, hash) — stable."""
        return sorted(self.counts.items(), key=lambda kv: (-kv[1][0], kv[0]))[
            : self.capacity
        ]


def _merge_partials(tbl) -> tuple[CountMinSketch, dict]:
    """Fold ``cms_heavy_hitters`` partial rows: the CMS matrices added in
    partition-id order, and the candidate union as hash -> key (the
    first key seen for a hash wins)."""
    import pyarrow.compute as pc

    tbl = tbl.take(pc.sort_indices(tbl.column("__pid")))
    blobs = tbl.column("cms_state").to_pylist()
    cms = CountMinSketch.from_bytes(blobs[0])
    for b in blobs[1:]:
        cms.merge_bytes(b)
    key_by_hash: dict = {}
    for keys, hashes in zip(
        tbl.column("cand_keys").to_pylist(), tbl.column("cand_hashes").to_pylist()
    ):
        for k, h in zip(keys, hashes):
            key_by_hash.setdefault(h, k)
    return cms, key_by_hash


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    eps: float = 0.0001,
    delta: float = 0.001,
    candidates_per_partition: int = 1024,
    threshold: int | None = None,
    top_k: int | None = None,
    tree_fanin: int | None = None,
) -> DataFrame:
    """Returns (key, est_count) for candidate heavy hitters; filter with
    ``threshold`` (count ≥ threshold) and/or ``top_k``.

    ``tree_fanin``: pre-merge partials in ``pid % fanin`` buckets so the
    final reducer sees at most ``fanin`` rows — required when the input
    has ~10⁴+ partitions (otherwise one reducer deserializes every
    partition's CMS matrix)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    projected = df.select(
        F.col(key_col).cast("string").alias("__key"),
        F.xxhash64(F.col(key_col).cast("string")).alias("__h"),
    )
    arrow_schema = to_arrow_schema(_PARTIAL_SCHEMA)
    eps_, delta_, cpp = eps, delta, candidates_per_partition

    def build(batches: Iterator) -> Iterator:
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        cms = CountMinSketch(eps=eps_, delta=delta_)
        tracker = BoundedCandidateTracker(cpp)
        n = 0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            keys = batch.column("__key").to_numpy(zero_copy_only=False)
            hashes = (
                batch.column("__h").to_numpy(zero_copy_only=False).view(np.uint64)
            )
            n += len(hashes)
            uh, first_idx, ucnt = np.unique(
                hashes, return_index=True, return_counts=True
            )
            cms.update_hashes(uh, ucnt)
            tracker.add_unique(uh, ucnt, keys, first_idx)
        if n == 0:
            return
        top = tracker.top()
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([pid], type=pa.int32()),
                pa.array([cms.to_bytes()], type=pa.binary()),
                pa.array([[str(kv[1][1]) for kv in top]], type=pa.list_(pa.string())),
                pa.array(
                    [[np.int64(np.uint64(kv[0]).astype(np.int64)) for kv in top]],
                    type=pa.list_(pa.int64()),
                ),
                pa.array([n], type=pa.int64()),
            ],
            schema=arrow_schema,
        )

    partials = projected.mapInArrow(build, _PARTIAL_SCHEMA)

    final_schema = to_arrow_schema(_FINAL_SCHEMA)

    def premerge(tbl: "pa.Table") -> "pa.Table":
        """Bucket-level partial merge. Output shape identical to a single
        partial row."""
        import pyarrow as pa
        import pyarrow.compute as pc

        cms, key_by_hash = _merge_partials(tbl)
        hs = sorted(key_by_hash)
        return pa.Table.from_arrays(
            [
                pa.array([pc.min(tbl.column("__pid")).as_py()], type=pa.int32()),
                pa.array([cms.to_bytes()], type=pa.binary()),
                pa.array([[key_by_hash[h] for h in hs]], type=pa.list_(pa.string())),
                pa.array([hs], type=pa.list_(pa.int64())),
                pa.array([pc.sum(tbl.column("n_updates")).as_py()], type=pa.int64()),
            ],
            schema=arrow_schema,
        )

    if tree_fanin and tree_fanin > 1:
        bucketed = partials.withColumn("__bucket", F.pmod(F.col("__pid"), F.lit(tree_fanin)))
        partials = grouped_fold(bucketed, ["__bucket"], premerge, _PARTIAL_SCHEMA)

    def finish(tbl: "pa.Table") -> "pa.Table":
        import pyarrow as pa

        cms, key_by_hash = _merge_partials(tbl)
        hs = np.array(sorted(key_by_hash), dtype=np.int64)
        ests = cms.estimate_hashes(hs.view(np.uint64))
        return pa.Table.from_arrays(
            [
                pa.array([key_by_hash[h] for h in hs.tolist()], type=pa.string()),
                pa.array(ests.astype(np.int64), type=pa.int64()),
            ],
            schema=final_schema,
        )

    merged = grouped_fold(partials.withColumn("__g", F.lit(1)), ["__g"], finish, _FINAL_SCHEMA)
    out = merged
    if threshold is not None:
        out = out.where(F.col("est_count") >= threshold)
    if top_k is not None:
        out = out.orderBy(F.desc("est_count"), "key").limit(top_k)
    return out


def build_cms_state(
    df: DataFrame,
    key_col: str,
    eps: float = 0.0001,
    delta: float = 0.001,
    tree_fanin: int | str | None = "auto",
) -> bytes:
    """Distributed CMS build over a key column; returns final state bytes
    on the driver (for broadcast probing with :func:`cms_probe`).

    ``tree_fanin="auto"`` (default) enables a pre-merge level only when
    the input partition count makes it pay off; pass an explicit int to
    force one (always honored), or ``None`` to disable."""
    from probabilistic_rs_spark.operators.sketch_agg import SketchSpec, build_global_state

    spec = SketchSpec("cms", "cms", key_col, {"eps": eps, "delta": delta})
    return build_global_state(df, spec, tree_fanin)


def native_cms_probe(
    probe_df: DataFrame,
    key_col: str,
    state: bytes,
    out_col: str = "est_count",
) -> DataFrame:
    """Adds a bigint point-estimate column: the CMS frequency estimate for
    each row's key (min over d rows; overestimate ≤ εN with prob ≥ 1−δ),
    with ZERO Python in the per-row path and zero exchanges in the probe
    plan. Keys are hashed JVM-side with the same ``xxhash64(cast
    string)`` the build path uses, so probe and build agree
    byte-for-byte.

    The CMS cell derivation is already Kirsch–Mitzenmacher over one
    xxhash64 (``sketches/cms.py:_cells``): ``h1 = h >> 32``,
    ``h2 = (h & 0xFFFFFFFF) | 1``, ``cell_j = (h1 + j·h2) & (w-1)`` —
    every step is an exact JVM long expression (h1 < 2^32, j·h2 < d·2^32
    ≪ 2^63, so ANSI arithmetic cannot overflow and signed math equals the
    kernel's uint64 math). The d×w count matrix rides a broadcast one-row
    ``array<array<bigint>>`` relation (:func:`common.relation_probe`);
    the estimate is ``least`` over the d row lookups, evaluated inside
    whole-stage codegen.

    The estimate is wrapped in ``pushdown_barrier`` (round 8): it keeps a
    downstream filter on the estimate from inlining the d lookups into
    the join condition (no codegen CSE there — the shared xxhash64/h1/h2
    chain re-evaluates per lookup per row); the barriered ProjectExec
    computes them once."""
    from probabilistic_rs_spark.operators.sketch_agg import pushdown_barrier

    cms = CountMinSketch.from_bytes(state)
    h = F.xxhash64(F.col(key_col).cast("string"))
    h1 = F.call_function("shiftrightunsigned", h, F.lit(32))
    h2 = h.bitwiseAND(F.lit(0xFFFFFFFF)).bitwiseOR(F.lit(1))
    mask = F.lit(int(cms.w - 1))

    def est(rows):
        lookups = []
        for j in range(cms.d):
            cell = (h1 + F.lit(int(j)) * h2).bitwiseAND(mask)
            row = F.element_at(rows, F.lit(int(j) + 1))
            lookups.append(F.element_at(row, cell.cast("int") + F.lit(1)))
        return pushdown_barrier(F.least(*lookups) if len(lookups) > 1 else lookups[0])

    return relation_probe(
        probe_df, state, "__cms_rows array<array<bigint>>",
        lambda: list(cms.table), est, out_col,
    )


# One CMS probe: the JVM probe gives the pandas kernel's estimates and
# measured no slower than it, warm or on a state's first probe.
cms_probe = native_cms_probe


def exact_group_count(df: DataFrame, key_col: str) -> DataFrame:
    """Exact per-key counts via the plain built-in aggregate. This is
    already skew-safe for counts: Spark's hash aggregate does map-side
    partial aggregation, so a hot key ships one partial row per map task —
    never its raw rows — to the reducer. No salt needed. Returns
    (key, cnt)."""
    return (
        df.select(F.col(key_col).cast("string").alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def salted_group_count(
    df: DataFrame, key_col: str, n_salts: int = 16
) -> DataFrame:
    """Exact counts (key, cnt), kept for API parity — delegates to
    :func:`exact_group_count`. A salted two-stage ``groupBy(key, salt) →
    groupBy(key)`` adds a second shuffle that built-in counts never need
    (partial aggregation already bounds per-reducer input); salting is
    load-bearing only for aggregations with NO partial-agg support, i.e.
    grouped-map UDF custom states — see :func:`salted_apply_in_pandas_agg`
    for that pattern."""
    return exact_group_count(df, key_col)


def salted_apply_in_pandas_agg(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n_salts: int = 16,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """The salted pattern where it IS load-bearing: a grouped-map UDF has
    no map-side partial aggregation, so a hot key would funnel all its raw
    rows to one reducer task. Stage 1 groups by (key, salt) — a hot key's
    rows split across ``n_salts`` tasks, each folding its slice into a
    partial (here: sum + count); stage 2 re-aggregates the tiny partial
    rows by key. Returns (key, total double, cnt long). The same shape
    carries any mergeable custom state (a sketch, a reservoir).

    ``salt_cols``: extra columns mixed into the salt hash. The default
    salt hashes (key, value), which is retry-stable but DEGENERATE when a
    hot key's value is constant (the classic count workload where every
    row carries value=1): all its rows hash to ONE salt group and the
    skew this operator exists to break returns (ADVICE r3 #3). Pass any
    high-cardinality stable discriminator the rows carry — an event id, a
    timestamp, a source offset — to restore the split; such columns are
    retry-stable because they are row CONTENT, not generated ids."""
    out1 = StructType(
        [
            StructField("key", StringType(), False),
            StructField("total", DoubleType(), False),
            StructField("cnt", LongType(), False),
        ]
    )

    def fold(tbl: "pa.Table") -> "pa.Table":
        import pyarrow as pa

        # nulls arrive as NaN; nansum skips them and NaN values alike
        total = float(np.nansum(tbl.column("val").to_numpy()))
        return pa.Table.from_arrays(
            [
                tbl.column("key").slice(0, 1),
                pa.array([total], type=pa.float64()),
                pa.array([tbl.num_rows], type=pa.int64()),
            ],
            names=["key", "total", "cnt"],
        )

    # salt from STABLE row content (ADVICE r2): monotonically_increasing_id
    # is nondeterministic across task/stage retries — a recomputed upstream
    # stage could re-salt rows into different groups after partial shuffle
    # consumption and double-count/drop them (SPARK-23207 class). Hashing
    # (key, value [, salt_cols…]) is retry-stable; duplicate hash-input
    # rows sharing a salt only skews balance (fully so when a hot key's
    # value is constant — supply salt_cols then), never correctness.
    salt_inputs = [F.col(key_col).cast("string"), F.col(value_col)]
    salt_inputs += [F.col(c) for c in (salt_cols or [])]
    salted = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("val"),
        F.pmod(F.xxhash64(*salt_inputs), F.lit(n_salts)).alias("__salt"),
    )
    stage1 = grouped_fold(salted, ["key", "__salt"], fold, out1)
    return stage1.groupBy("key").agg(
        F.sum("total").alias("total"), F.sum("cnt").cast("long").alias("cnt")
    )


# ---------------------------------------------------------------------------
# Partitioned (non-broadcast) CMS — round 6
# ---------------------------------------------------------------------------
#
# The broadcast probes above ship the whole d×w matrix to every executor
# (~235 MB at eps 1e-6 / delta 1e-3). Past that budget the count family
# needs the same degradation the membership families got: the matrix
# lives as a DISTRIBUTED ``(row, block, cells)`` table (each matrix row
# range-sharded into column blocks), probe keys compute their d
# Kirsch–Mitzenmacher cells JVM-side, shuffle one lookup per (row,
# block), and ``min`` recombines per key. Per-task memory = one block +
# one key slice, independent of matrix size.


def _cms_geometry(eps: float, delta: float) -> tuple[int, int]:
    """(d, w) exactly as ``CountMinSketch.__init__`` derives them —
    arithmetic only, so an over-budget matrix is never allocated
    driver-side just to learn its shape."""
    import math

    if not (0.0 < eps < 1.0):
        raise SketchConfigError("CMS eps must be in (0,1)")
    if not (0.0 < delta < 1.0):
        raise SketchConfigError("CMS delta must be in (0,1)")
    d = max(1, math.ceil(math.log(1.0 / delta)))
    w = max(2, math.ceil(math.e / eps))
    return d, 1 << (w - 1).bit_length()


def _cms_targets(h: str, d: int, w: int) -> list[str]:
    """The d probe targets ``named_struct(row, __cell)`` of the xxhash64
    column ``h``, as SQL — the same KM derivation
    ``sketches/cms.py:_cells`` and :func:`native_cms_probe` use (h1 <
    2^32, j·h2 < d·2^32 ≪ 2^63: ANSI arithmetic cannot overflow; signed
    math equals the kernel's uint64)."""
    h1, h2 = f"shiftrightunsigned({h}, 32)", f"(({h} & 4294967295) | 1)"
    return [
        f"named_struct('row', {j}, '__cell', ({h1} + {j} * {h2}) & {w - 1})"
        for j in range(d)
    ]


def build_cms_blocks_df(
    df: DataFrame,
    key_col: str,
    eps: float = 0.0001,
    delta: float = 0.001,
    cells_per_block: int = 65536,
) -> DataFrame:
    """Build the distributed CMS blocks table WITHOUT ever materializing
    the d×w matrix anywhere: keys pre-aggregate to ``(hash, count)``
    (a plain hash aggregate — MAP-SIDE COMBINE, so the shuffle is
    bounded by distinct keys, not input rows; grouping by the hash is
    semantically identical to the CMS, whose cells derive from that same
    hash), each aggregated row derives its d (row, cell) targets with the
    KM arithmetic of ``sketches/cms.py:_cells``, and
    :func:`~probabilistic_rs_spark.operators.sketch_agg.packed_block_build`
    sums the counts into their block. Returns ``(row, block, cells, d, w,
    cells_per_block)`` — blocks that received no counts are absent
    (probes read them as zero); ``cells`` carries the geometry in its
    column metadata (``operators/blocks.py``). One build's blocks per
    table — the same contract as every partitioned family."""
    from probabilistic_rs_spark.operators.blocks import GEOMETRY
    from probabilistic_rs_spark.operators.sketch_agg import packed_block_build

    cpb = int(cells_per_block)
    if cpb <= 0:
        raise SketchConfigError("cells_per_block must be positive")
    d, w = _cms_geometry(eps, delta)
    counts = df.groupBy(
        F.xxhash64(F.col(key_col).cast("string")).alias("__h")
    ).agg(F.count(F.lit(1)).alias("__c"))
    mask = np.uint64(w - 1)

    def cells(batch):
        h = batch.column(0).to_numpy(zero_copy_only=False).view(np.uint64)
        c = batch.column(1).to_numpy(zero_copy_only=False)
        h1 = h >> np.uint64(32)
        h2 = (h & np.uint64(0xFFFFFFFF)) | np.uint64(1)
        for j in range(d):
            yield j, (h1 + np.uint64(j) * h2) & mask, c

    def scatter(n, offs, cnts):
        out = np.zeros(n, dtype=np.int64)
        np.add.at(out, offs, cnts)
        return out

    blocks = packed_block_build(
        counts, StructField("row", IntegerType(), False), cells, w, cpb, scatter,
        weighted=True,
    )
    geometry = {"d": d, "w": w, "cells_per_block": cpb}
    return blocks.select(
        "row",
        "block",
        F.col("values").alias("cells", metadata={GEOMETRY: geometry}),
        F.lit(d).cast("int").alias("d"),
        F.lit(w).cast("long").alias("w"),
        F.lit(cpb).cast("int").alias("cells_per_block"),
    )


def cms_partitioned_probe(
    probe_df: DataFrame,
    key_col: str,
    blocks_df: DataFrame,
    out_col: str = "est_count",
) -> DataFrame:
    """Point estimates against the DISTRIBUTED CMS blocks table — the
    non-broadcast sibling of :func:`cms_probe` / :func:`native_cms_probe`
    with identical estimates by construction (same hash, same KM cells,
    same min-combine), through the block-table engine
    (``operators/blocks.py``): distinct probe keys explode to their d
    (row, cell) targets, LEFT-join their (row, block) slice (an absent
    block is a zero cell), take the ``min`` per key and rejoin the probe
    rows by the key's xxhash64 — the hash the build grouped on, so equal
    hashes get identical estimates and keys shuffle as 8 fixed bytes.

    Shuffle volume: d·20 B per distinct probe key + the blocks table —
    row-count-bounded, never matrix-size-bounded. The geometry comes
    from the ``cells`` column metadata, so planning launches no job; a
    table without it (saved by an older build) reads it with one small
    job. A table mixing geometries fails at the action. An unpersisted
    table is persisted internally (``common.ensure_persisted``)."""
    from probabilistic_rs_spark.operators.blocks import (
        probe_block_table,
        resolve_geometry,
    )

    zero = F.lit(0).cast("bigint")
    resolved = resolve_geometry(
        blocks_df, "cells", ["d", "w", "cells_per_block"], "CMS geometries"
    )
    if resolved is None:
        return probe_df.withColumn(out_col, zero)
    (d, w, cpb), blocks = resolved

    def fold(joined: DataFrame) -> DataFrame:
        cell = F.expr("coalesce(element_at(cells, __off + 1), 0L)")
        return joined.groupBy("__cmsph").agg(F.min(cell).alias("__v"))

    return probe_block_table(
        probe_df, out_col, {"__cmsph": F.xxhash64(F.col(key_col).cast("string"))},
        _cms_targets("__cmsph", d, w), cpb, blocks.select("row", "block", "cells"),
        ["row", "block"], fold, zero,
    )


# ---------------------------------------------------------------------------
# Misra–Gries summaries — deterministic mergeable top-k (round 7)
# ---------------------------------------------------------------------------

def mg_states(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
    k: int = 1024,
    tree_fanin: int | None = None,
) -> DataFrame:
    """One merged Misra–Gries summary per group through the generic
    partial/merge pipeline (``sketches/mg.py``): ``group_cols…, mg_state
    binary, n_updates long``. Partial states are bounded at k entries +
    key bytes regardless of row count or key cardinality, so the shuffle
    is state-sized — the same scale contract as every other family."""
    from probabilistic_rs_spark.operators.sketch_agg import SketchSpec, sketch_aggregate

    group_cols = group_cols or []
    spec = SketchSpec("mg", "mg", col, {"k": k})
    return sketch_aggregate(df, group_cols, [spec], tree_fanin=tree_fanin)


def mg_topk(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
    k: int = 1024,
    threshold: int = 1,
    tree_fanin: int | None = None,
) -> DataFrame:
    """Deterministic top-k / heavy hitters with EXACT keys and a
    self-certifying error bound — the complement of
    :func:`cms_heavy_hitters`:

    * no probe set needed (MG carries the keys; CMS needs candidates),
    * no hashing, no δ failure probability,
    * every row ships its guarantee: ``est_count <= true count <=
      est_count + max_undercount``, and any key whose true count exceeds
      ``max_undercount`` is guaranteed present (PODS'12 invariant). When
      the per-group key cardinality never exceeded k anywhere,
      ``max_undercount`` is 0 and every count is exact.

    Output: ``group_cols…, key string, est_count long, max_undercount
    double`` — retained keys with ``est_count >= threshold``, exploded
    from the merged per-group summaries (state-sized work; input data is
    scanned exactly once by the build)."""
    from pyspark.sql.types import (
        DoubleType as _D,
        LongType as _L,
        StringType as _S,
        StructField as _SF,
        StructType as _ST,
    )

    from probabilistic_rs_spark.sketches.mg import MisraGries

    group_cols = group_cols or []
    states = mg_states(df, col, group_cols, k=k, tree_fanin=tree_fanin)
    in_schema = states.schema
    out_schema = _ST(
        [in_schema[g] for g in group_cols]
        + [
            _SF("key", _S(), False),
            _SF("est_count", _L(), False),
            _SF("max_undercount", _D(), False),
        ]
    )
    thresh = int(threshold)

    def explode_states(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = []
            for _, r in pdf.iterrows():
                sk = MisraGries.from_bytes(bytes(r["mg_state"]))
                d = sk.max_undercount()
                base = {g: r[g] for g in group_cols}
                for key, est in sk.top(threshold=thresh):
                    rows.append(
                        {
                            **base,
                            "key": key.decode("utf-8"),
                            "est_count": int(est),
                            "max_undercount": float(d),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            ) if rows else pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in out_schema.fields}
            )

    return states.mapInPandas(explode_states, out_schema)
