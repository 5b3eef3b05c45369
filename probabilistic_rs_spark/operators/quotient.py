"""Distributed quotient filter — membership with deletion AND a true
associative merge.

This closes the reference's planned-structures list
(``/root/reference/specs/overview.md:20-24``). Unlike the cuckoo filter
(shard-parallel because displacement chains don't merge), the quotient
filter's sorted-run union IS an associative/commutative fold, so the
build rides the generic ``sketch_aggregate`` partial/merge machinery —
grouped or global — with bit-identical states under any shuffle order.

Plan shapes:

* build: scan → [JVM xxhash64, codegen] → mapInArrow partial (one sorted
  run per partition) → partial-state shuffle/driver fold. Shuffled bytes
  = ``n_rows × fp_width`` (4 B for p ≤ 32), row-count-bounded like every
  other sketch partial.
* probe: broadcast state + map-side vectorized ``searchsorted`` — zero
  exchanges.
* delete: the delete feed is PRE-FILTERED map-side against the broadcast
  state (only fingerprints actually present survive — bounding what ever
  leaves the mappers by the filter's own content size), deduped to
  distinct p-bit fingerprints with a distributed ``distinct()``, then
  applied to the driver-held state in one vectorized multiset subtract.
  Raw delete keys never travel to the driver (the cuckoo-delete lesson,
  VERDICT r2 #1).
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from probabilistic_rs_spark.common import published_state, relation_probe
from probabilistic_rs_spark.errors import SketchConfigError
from probabilistic_rs_spark.operators.membership import _semi_filter
from probabilistic_rs_spark.operators.shards import (
    ShardFamily,
    apply_ops_shards,
    build_shards,
    delete_shards,
    fold_n_shards,
    probe_shards,
    resolve_n_shards,
)
from probabilistic_rs_spark.operators.sketch_agg import (
    SketchSpec,
    build_global_state,
)
from probabilistic_rs_spark.sketches.quotient import QuotientFilter


def build_quotient_state(
    df: DataFrame,
    item_col: str,
    capacity: int,
    false_positive_rate: float = 0.01,
    tree_fanin: int | str | None = "auto",
) -> bytes:
    """Distributed build over a key column; returns merged state bytes.
    Note the filter is a MULTISET: duplicate rows insert duplicate
    fingerprints (use :func:`quotient_delete`'s remove-all semantics, or
    pre-distinct the input, when set semantics are wanted)."""
    spec = SketchSpec(
        "qf",
        "quotient",
        item_col,
        {"capacity": capacity, "false_positive_rate": false_positive_rate},
    )
    return build_global_state(df, spec, tree_fanin)


def quotient_probe(
    probe_df: DataFrame,
    item_col: str,
    state: bytes,
    out_col: str = "is_member",
) -> DataFrame:
    """Adds a boolean membership column: keys are hashed JVM-side
    (xxhash64 inside codegen); the kernel is one ``searchsorted`` gather
    per Arrow batch against the broadcast sorted run. Map-side, zero
    exchanges; zero false negatives, FPR ≤ n·2^-p."""
    get_qf = published_state(
        probe_df.sparkSession.sparkContext, state, QuotientFilter
    )

    @pandas_udf(BooleanType())
    def probe(hashes: pd.Series) -> pd.Series:
        sk = get_qf()
        h = hashes.to_numpy(dtype="int64").view(np.uint64)
        return pd.Series(sk.contains_hashes(h))

    return probe_df.withColumn(
        out_col, probe(F.xxhash64(F.col(item_col).cast("string")))
    )


def _quotient_buckets(sk: QuotientFilter, b: int) -> list[np.ndarray]:
    """The filter's sorted fingerprint run split into 2^b buckets by the
    top b fingerprint bits — the value of the one-row
    ``array<array<bigint>>`` relation the native probe cross-joins. The
    run is already sorted, so the split is one bincount + cumsum."""
    fps = sk.fps
    buckets = (fps.astype(np.uint64) >> np.uint64(sk.p - b)).astype(np.int64)
    counts = np.bincount(buckets, minlength=1 << b)
    ends = np.cumsum(counts)
    starts = ends - counts
    # int64 BIT PATTERNS: for p = 64 the top fingerprints read as
    # negative longs on both sides — equality still matches because
    # the JVM probe expression produces the identical bit pattern
    vals = fps.astype(np.int64, copy=False) if fps.dtype == np.uint64 else fps.astype(np.int64)
    return [vals[s:e] for s, e in zip(starts.tolist(), ends.tolist())]


def _quotient_member_expr(item_col: str, barr, p: int, b: int):
    """JVM membership predicate: bucket lookup + ``array_contains`` scan
    of the ~n/2^b-element bucket — fp and bucket come from the same
    xxhash64 the build used, so zero false negatives hold."""
    fp = F.call_function(
        "shiftrightunsigned",
        F.xxhash64(F.col(item_col).cast("string")),
        F.lit(64 - p),
    )
    if p > b:
        bucket = F.call_function("shiftrightunsigned", fp, F.lit(p - b)).cast("int")
    else:
        bucket = fp.cast("int")
    return F.coalesce(
        F.array_contains(F.element_at(barr, bucket + F.lit(1)), fp), F.lit(False)
    )


def native_quotient_probe(
    probe_df: DataFrame,
    item_col: str,
    state: bytes,
    out_col: str = "is_member",
    bucket_bits: int = 14,
) -> DataFrame:
    """``quotient_probe`` with ZERO Python in the per-row path (VERDICT
    r3 #6 spike, shipped): the sorted run rides a broadcast one-row
    nested-array relation; each probe row computes its fingerprint with
    JVM ``xxhash64``, indexes its top-``bucket_bits`` bucket with
    ``element_at`` and scans the ~n/2^b remaining candidates with
    ``array_contains`` — whole-stage codegen end to end, the same shape
    as ``native_bloom_probe``. Identical verdicts to the ``searchsorted``
    kernel (both test p-bit fingerprint equality of the same hash).

    Trade-off vs the pandas kernel: the bucket scan is O(n/2^b) per row
    against searchsorted's O(log n), but it runs JVM-side with no Arrow
    boundary; measured faster at probe scale for filters up to ~10M
    fingerprints with the default 2^14 buckets (see BASELINE.md round-4
    notes). For larger runs raise ``bucket_bits``."""
    sk = QuotientFilter.from_bytes(state)
    b = min(bucket_bits, sk.p)
    from probabilistic_rs_spark.operators.sketch_agg import pushdown_barrier

    # pushdown_barrier (round 8): keep a downstream .where(is_member)
    # from inlining the fingerprint derivation + bucket scan into the
    # join condition (evaluated without codegen subexpression
    # elimination — the xxhash64 chain re-evaluates per reference)
    return relation_probe(
        probe_df, state, "__qf_buckets array<array<bigint>>",
        lambda: _quotient_buckets(sk, b),
        lambda buckets: pushdown_barrier(
            _quotient_member_expr(item_col, buckets, sk.p, b), boolean=True
        ),
        out_col, b,
    )


def native_quotient_semi_filter(
    probe_df: DataFrame, item_col: str, state: bytes, bucket_bits: int = 14
) -> DataFrame:
    """Semi-join form, like ``native_bloom_semi_filter``: the predicate
    is evaluated once in a barriered ProjectExec (round 8 — in the join
    condition it would be evaluated without codegen CSE) and the filter
    reads the materialized bit."""
    return _semi_filter(
        native_quotient_probe, probe_df, item_col, state, bucket_bits=bucket_bits
    )


# ---------------------------------------------------------------------------
# Partitioned (non-broadcast) family: the shard-table engine of
# ``operators/shards.py`` with prefix routing. Shard id = the TOP
# shard_bits OF THE HASH, which are also the top bits of the fingerprint
# (fp = top p bits of h, so ``fp >> (p - s) == h >> (64 - s)``, computable
# without knowing p) — so each shard holds a CONTIGUOUS range of the
# global sorted run, and folding the shard states back together
# reproduces the global state BIT-IDENTICALLY (disjoint sorted-run union;
# asserted in tests). The broadcast and partitioned families are
# therefore two physical layouts of one logical filter, not two filters.
# ---------------------------------------------------------------------------


def _prefix_route(h, ns: int):
    return F.call_function(
        "shiftrightunsigned", h, F.lit(64 - (ns.bit_length() - 1))
    ).cast("int")


_FAMILY = ShardFamily(
    route=_prefix_route,
    load=lambda blob: QuotientFilter.from_bytes(blob),
    add=lambda sk, h: sk.update_hashes(h),
    remove=lambda sk, h: sk.remove_all(np.unique(sk._fingerprints(h))),
)


def _creating_family(capacity: int, false_positive_rate: float) -> ShardFamily:
    # every shard uses the GLOBAL (capacity, fpr), so fingerprints match
    # the broadcast family; the budget is a broadcast guard, a shard's
    # state is a slice
    return _FAMILY._replace(
        new=partial(
            QuotientFilter, int(capacity), float(false_positive_rate),
            max_state_bytes=None,
        )
    )


def _shard_count(shard_bits: int) -> int:
    if not (1 <= int(shard_bits) <= 20):
        raise SketchConfigError("shard_bits must be in 1..=20")
    return 1 << int(shard_bits)


def _check_pow2(ns: int) -> int:
    # the prefix route shifts by 64 - log2(ns): one shard would shift by 64
    if ns < 2 or ns & (ns - 1):
        raise SketchConfigError(
            f"quotient n_shards must be a power of two >= 2, got {ns}"
        )
    return ns


def build_quotient_shards_df(
    df: DataFrame,
    item_col: str,
    capacity: int,
    false_positive_rate: float = 0.01,
    shard_bits: int = 5,
) -> DataFrame:
    """The NON-BROADCAST quotient build: one filter per fingerprint-prefix
    shard, returned as a distributed ``(shard, state, n_items, n_shards)``
    table — no driver collect, so no ``max_state_bytes`` budget applies
    (no single process ever holds more than one shard's run). Every shard
    uses the GLOBAL ``(capacity, fpr)`` config, so (q, r) — and hence
    fingerprints — are identical across shards and to the broadcast
    family; merging all shard states reproduces ``build_quotient_state``'s
    bytes exactly. Probe with :func:`quotient_partitioned_probe`, delete
    with :func:`quotient_delete_df`; persist or write the result before
    reusing it (it is a lazy plan).

    Pick ``shard_bits`` so one shard's run (~``fp_bytes · n /
    2^shard_bits``) fits executor memory; shards also parallelize the
    sort/consolidate work."""
    family = _creating_family(capacity, false_positive_rate)
    return build_shards(df, item_col, _shard_count(shard_bits), family)


def quotient_partitioned_probe(
    probe_df: DataFrame,
    item_col: str,
    states_df: DataFrame,
    n_shards: int | None = None,
    out_col: str = "is_member",
) -> DataFrame:
    """Membership probe against the DISTRIBUTED shard table: probe rows
    shuffle by their fingerprint prefix and are cogrouped with their
    shard's single state row — one ``searchsorted`` per (shard, slice),
    per-task memory = one shard run + one probe slice however large the
    filter. Verdict-identical to :func:`quotient_probe` on the merged
    state (same hash, same fingerprints, same kernel). Keys routed to a
    shard with no state row (no keys at build) are not members.

    Probe rows ride the cogroup inline — one full-width exchange — for
    the reason :func:`~probabilistic_rs_spark.operators.shards.
    probe_shards` gives, and every carried column comes back with its
    exact type and value."""
    ns = _check_pow2(resolve_n_shards(states_df, n_shards))
    return probe_shards(probe_df, item_col, states_df, ns, _FAMILY, out_col)


def quotient_delete_df(
    states_df: DataFrame,
    delete_df: DataFrame,
    item_col: str,
    n_shards: int | None = None,
) -> DataFrame:
    """Set-style deletion against the DISTRIBUTED shard table (the
    partitioned analog of :func:`quotient_delete`): delete keys shuffle
    to their fingerprint-prefix shard (8 bytes/key) and every occurrence
    of each present fingerprint is removed shard-locally — state bytes
    never visit the driver. Returns ``(shard, state, n_removed,
    n_shards)``; aggregate ``n_removed`` for the occurrence count.
    Deleting a never-inserted key is a no-op except for the ≤FPR
    fingerprint-collision hazard shared by every deletable filter."""
    ns = _check_pow2(resolve_n_shards(states_df, n_shards))
    return delete_shards(states_df, delete_df, item_col, ns, _FAMILY)


def quotient_apply_ops_df(
    states_df: DataFrame | None,
    ops_df: DataFrame,
    item_col: str,
    op_col: str = "op",
    capacity: int = 1_000_000,
    false_positive_rate: float = 0.01,
    shard_bits: int | None = None,
) -> DataFrame:
    """Fold one generation of an insert/delete ops log into the
    distributed quotient shard table — ``cuckoo_apply_ops_df``'s sibling
    for the prefix-sharded family. Ops shuffle to their fingerprint-
    prefix shard; per shard, distinct inserts apply first, then set-style
    remove-all deletes (a key both inserted and deleted in one
    generation nets to absent). Inserts are idempotent ACROSS generations
    as well — hashes whose fingerprint the shard already holds are
    dropped, so re-inserts never grow the sorted run (matching the cuckoo
    fold's semantics). Shards are created on first insert, so
    the fold starts from ``states_df=None``; every shard uses the global
    ``(capacity, fpr)`` so the bit-identical-fold property of
    :func:`build_quotient_shards_df` is preserved across generations.
    Returns the same ``(shard, state, n_items, n_shards)`` shape —
    materialize each generation before feeding it to the next.

    ``shard_bits``: read from the states' self-describing ``n_shards``
    column when ``states_df`` is given (an explicitly-passed conflicting
    value raises — a mismatched prefix width would silently misroute
    ops); only consulted as a geometry choice when starting from
    ``states_df=None`` (default 5). Op tags other than exactly
    ``'insert'``/``'delete'`` raise ``SketchConfigError``."""
    requested = None if shard_bits is None else _shard_count(shard_bits)
    ns = _check_pow2(fold_n_shards(states_df, requested, 1 << 5))
    family = _creating_family(capacity, false_positive_rate)
    return apply_ops_shards(states_df, ops_df, item_col, op_col, ns, family)


def quotient_delete(
    state: bytes,
    delete_df: DataFrame,
    item_col: str,
) -> tuple[bytes, int]:
    """Remove every occurrence of each delete key's fingerprint from the
    filter (set-style deletion: a key deleted is GONE even if the build
    saw it on many rows). Returns (new state bytes, fingerprints removed
    — occurrence count).

    Distributed shape: probe-prefilter map-side (broadcast state) so only
    fingerprints actually present leave the mappers — the collected
    distinct fingerprint set is therefore bounded by the filter's own
    content, which the driver already holds. Deleting a never-inserted
    key is a no-op except for the ≤FPR chance of a colliding fingerprint
    (the documented QF deletion hazard, same as cuckoo)."""
    sk = QuotientFilter.from_bytes(state)
    p = sk.p
    # map-side prefilter: only keys whose fingerprint is present survive
    hits = quotient_probe(delete_df, item_col, state).where(F.col("is_member"))
    # JVM-side fingerprint: top p bits of the same xxhash64
    fp_expr = F.call_function(
        "shiftrightunsigned",
        F.xxhash64(F.col(item_col).cast("string")),
        F.lit(64 - p),
    ).alias("__fp")
    fp_rows = hits.select(fp_expr).distinct().toPandas()
    if fp_rows.empty:
        return state, 0
    fps = np.sort(fp_rows["__fp"].to_numpy(dtype="int64").view(np.uint64)).astype(
        sk.fps.dtype, copy=False
    )
    removed = sk.remove_all(fps)
    return sk.to_bytes(), removed
