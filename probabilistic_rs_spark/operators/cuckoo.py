"""Distributed Cuckoo filter — membership WITH DELETION at scale.

Cuckoo insertion is a sequential displacement chain, so there is no
associative partial-state merge the way Bloom has OR (the whole reason
the reference ships Bloom first and lists cuckoo as planned,
``specs/overview.md:20-21``). The Spark-native restatement:

* **shard-parallel build**: keys are hashed JVM-side (xxhash64), routed
  to ``n_shards`` shards by ``pmod(hash, n_shards)``; each shard's
  (distinct, sorted) hashes build an independent CuckooFilter inside one
  Arrow group-map task (``operators/shards.py``). Deterministic: shard
  membership and insert order are pure functions of the key hash — the
  same table bytes come out under any partitioning.
* **probe / delete routing**: the shard id is recomputed from the same
  hash. Two physical layouts share one logical filter:
  **broadcast** (``build_cuckoo_shards`` → ``cuckoo_probe`` /
  ``native_cuckoo_probe``) — map-side against a broadcast shard list,
  zero exchanges, byte-budget-guarded; and **partitioned**
  (``build_cuckoo_shards_df`` → ``cuckoo_partitioned_probe`` /
  ``cuckoo_delete_df`` / ``cuckoo_apply_ops_df``) — states stay a
  distributed table and probe/delete/ops keys SHUFFLE to their shard via
  cogroup, per-task memory one shard + one slice, for filters too large
  to broadcast.
* scale: shards bound per-task build memory AND parallelize the one
  sequential kernel — 1000 shards build a 10⁹-key filter as 1000
  independent ~10⁶-key tasks (~6 s each at the measured 160k inserts/s).

FPR ≈ 2·bucket_size/2^fingerprint_bits per probe (both candidate buckets
of exactly one shard are examined — sharding does not change the bound).
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
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
from probabilistic_rs_spark.sketches.base import TYPE_CUCKOO, TYPE_NCUCKOO, peek_type
from probabilistic_rs_spark.sketches.cuckoo import CuckooFilter, NativeCuckooFilter
from probabilistic_rs_spark.sketches.quotient import DEFAULT_MAX_STATE_BYTES


def _pmod_route(h, ns: int):
    return F.pmod(h, F.lit(ns)).cast("int")


def _filter_from_bytes(blob: bytes):
    return _filter_class(blob).from_bytes(blob)


def _filter_class(blob: bytes):
    """The cuckoo family of a state, by PEEKING its wire tag (the tag
    decides the hash derivation; cross-family probing stays impossible
    because each class still validates its own tag on the full parse).
    Dispatching on the tag itself — not on exception text — means a
    reworded error message can never silently break deserialization, and
    a non-cuckoo blob gets an honest 'not a cuckoo state' diagnostic
    instead of a misleading NCUCKOO mismatch (ADVICE r4 #1)."""
    typ = peek_type(blob)
    if typ == TYPE_CUCKOO:
        return CuckooFilter
    if typ == TYPE_NCUCKOO:
        return NativeCuckooFilter
    raise SketchConfigError(
        f"not a cuckoo state: wire type tag {typ} "
        f"(expected {TYPE_CUCKOO} parity or {TYPE_NCUCKOO} native)"
    )


def _shard_geometry(
    capacity: int, n_shards: int, fingerprint_bits: int, bucket_size: int
) -> tuple[int, int]:
    """(per_shard_capacity, total_state_bytes) for a sharded build —
    computed ARITHMETICALLY, before any table is allocated, so the
    byte-budget guard can reject an oversized config without first
    materializing it. Mirrors ``CuckooFilter.__init__``'s derivation
    (95% load, next-power-of-two buckets, 4-byte slots)."""
    per_shard_cap = max(64, int(capacity / n_shards * 1.3) + 16)
    need = max(1, int(np.ceil(per_shard_cap / (bucket_size * 0.95))))
    m = 1 << (need - 1).bit_length()
    return per_shard_cap, n_shards * m * bucket_size * 4


_FAMILY = ShardFamily(
    route=_pmod_route,
    load=_filter_from_bytes,
    add=lambda cf, h: cf.insert_hashes(np.unique(h)),
    remove=lambda cf, h: cf.delete_hashes(h),
)


def _creating_family(
    per_shard_cap: int, fingerprint_bits: int, bucket_size: int, native: bool
) -> ShardFamily:
    cls = NativeCuckooFilter if native else CuckooFilter
    return _FAMILY._replace(
        new=partial(
            cls, per_shard_cap, fingerprint_bits=int(fingerprint_bits),
            bucket_size=int(bucket_size),
        )
    )


def build_cuckoo_shards(
    df: DataFrame,
    item_col: str,
    capacity: int,
    n_shards: int = 32,
    fingerprint_bits: int = 24,
    bucket_size: int = 4,
    native: bool = False,
    max_state_bytes: int | None = DEFAULT_MAX_STATE_BYTES,
) -> list[bytes]:
    """Build the sharded filter over a key column; returns the list of
    shard state bytes (index = shard id) for broadcast probing.
    ``native=True`` builds :class:`NativeCuckooFilter` shards (xxhash64
    remix + alternate-bucket hash), probeable Python-free by
    :func:`native_cuckoo_probe`.

    Fingerprint tables hold O(n) state, and THIS entry point collects
    every shard to the driver and broadcasts them — so the total table
    size is validated against ``max_state_bytes`` BEFORE any job launches
    (the quotient filter's guard idiom, ``sketches/quotient.py``;
    reference validation idiom ``src/bloom/config.rs:31-44``). Beyond the
    budget, the scale-correct path is :func:`build_cuckoo_shards_df` +
    :func:`cuckoo_partitioned_probe`: shard states stay a distributed
    table and probes SHUFFLE to their shard instead of every executor
    holding every shard."""
    if n_shards <= 0:
        raise SketchConfigError("n_shards must be positive")
    per_shard_cap, total_bytes = _shard_geometry(
        capacity, n_shards, fingerprint_bits, bucket_size
    )
    if max_state_bytes is not None and total_bytes > max_state_bytes:
        raise SketchConfigError(
            f"cuckoo shard tables would be {total_bytes} bytes at capacity "
            f"{int(capacity)} ({n_shards} shards x 4-byte slots) > "
            f"max_state_bytes={max_state_bytes}; fingerprint filters hold "
            "O(n) state — use build_cuckoo_shards_df + "
            "cuckoo_partitioned_probe (states stay distributed, probes "
            "shuffle to their shard) or raise max_state_bytes explicitly"
        )
    ns = int(n_shards)
    family = _creating_family(per_shard_cap, fingerprint_bits, bucket_size, native)
    states = [family.new().to_bytes()] * ns
    for r in build_shards(df, item_col, ns, family).select("shard", "state").collect():
        states[int(r["shard"])] = bytes(r["state"])
    return states


def build_cuckoo_shards_df(
    df: DataFrame,
    item_col: str,
    capacity: int,
    n_shards: int = 32,
    fingerprint_bits: int = 24,
    bucket_size: int = 4,
    native: bool = False,
) -> DataFrame:
    """The NON-BROADCAST build: returns the shard states as a DataFrame
    ``(shard int, state binary, n_items long, n_shards int)`` instead of
    collecting them to the driver — no byte budget
    applies because no single process ever holds more than one shard.
    This is the 100 TB degradation path: 10⁹–10¹⁰ keys at 24-bit
    fingerprints build into a distributed state table (persist or write
    it to parquet for reuse), and :func:`cuckoo_partitioned_probe` /
    :func:`cuckoo_delete_df` shuffle probe/delete keys TO their shard
    (a cogrouped join) rather than broadcasting all shards everywhere.
    Per-task memory is one shard's table + one key slice, independent of
    total filter size.

    Pick ``n_shards`` so one shard's table (~``4·bucket_size·
    capacity/(0.95·n_shards)`` bytes, next-pow-2-rounded) fits executor
    memory; more shards also parallelize the sequential insert kernel."""
    if n_shards <= 0:
        raise SketchConfigError("n_shards must be positive")
    per_shard_cap, _ = _shard_geometry(capacity, n_shards, fingerprint_bits, bucket_size)
    family = _creating_family(per_shard_cap, fingerprint_bits, bucket_size, native)
    return build_shards(df, item_col, int(n_shards), family)


def cuckoo_partitioned_probe(
    probe_df: DataFrame,
    item_col: str,
    states_df: DataFrame,
    n_shards: int | None = None,
    out_col: str = "is_member",
) -> DataFrame:
    """Membership probe against a DISTRIBUTED shard-state table
    (:func:`build_cuckoo_shards_df`) — the non-broadcast fallback for
    filters too large for :func:`cuckoo_probe`'s broadcast. Probe rows
    shuffle by their shard id and are COGROUPED with their shard's
    single state row, so each task deserializes exactly one
    shard and probes its slice vectorized; total memory per task is one
    shard table + one probe slice regardless of filter size. Verdicts are
    identical to the broadcast probe on the same states by construction
    (same routing hash, same ``contains_hashes`` kernel). Keys routed to
    a shard that has no state row (no keys at build) are not members.

    Cost model vs :func:`cuckoo_probe`: one exchange of the probe side
    (8-byte hash + carried columns) instead of an all-executor broadcast
    of the whole filter — the right trade exactly when the filter is
    big. Probe rows ride the cogroup inline (see
    :func:`~probabilistic_rs_spark.operators.shards.probe_shards` for
    why), and every carried column comes back with its exact type and
    value."""
    ns = resolve_n_shards(states_df, n_shards)
    return probe_shards(probe_df, item_col, states_df, ns, _FAMILY, out_col)


def cuckoo_apply_ops_df(
    states_df: DataFrame | None,
    ops_df: DataFrame,
    item_col: str,
    op_col: str = "op",
    capacity: int = 1_000_000,
    n_shards: int | None = None,
    fingerprint_bits: int = 24,
    bucket_size: int = 4,
    native: bool = False,
) -> DataFrame:
    """Fold one generation of an ops log — rows tagged ``'insert'`` or
    ``'delete'`` in ``op_col`` — into the DISTRIBUTED shard table: the
    incremental-maintenance primitive for a membership set that receives
    both additions and retractions (the GDPR-purge / revoked-key feed).
    Ops shuffle to their shard (8-byte hash + 1 tag per op); each shard
    applies its slice locally — distinct-sorted inserts first, then
    distinct-sorted deletes (deterministic within a generation) — and
    shards that don't exist yet are CREATED on first insert, so the fold
    can start from ``states_df=None`` (empty filter). Returns ``(shard,
    state, n_items, n_shards)`` — the same shape
    :func:`build_cuckoo_shards_df` emits, so generations chain:
    write each generation's output to a versioned location and feed it
    back for the next (plans are lazy — materialize between
    generations). Probe any generation with
    :func:`cuckoo_partitioned_probe`.

    Within one generation the insert set and delete set are each
    deduplicated, inserts apply before deletes, and a delete of a
    never-present key is a no-op (up to the standard fingerprint-
    collision hazard) — so a key both inserted and deleted in the SAME
    generation ends up absent. Inserts are idempotent ACROSS generations
    too: hashes whose fingerprint is already present in the shard are
    dropped before placement, so re-inserting a key in a later
    generation neither stores a second copy (which one delete would then
    fail to purge — the GDPR hazard) nor burns table slots. This mirrors
    the quotient sibling's set semantics; the cost of the hazard-free
    behavior is that a fingerprint COLLISION between two distinct keys
    collapses to one stored copy, so deleting either removes both — the
    same ≤FPR deletion hazard every cuckoo delete already carries.

    ``n_shards``: when ``states_df`` is given the modulus is read from
    its self-describing ``n_shards`` column; passing a conflicting value
    raises (a mismatched modulus would silently misroute ops). It is only
    consulted as a geometry choice when starting from ``states_df=None``
    (default 32).

    Rows whose ``op_col`` is anything other than exactly ``'insert'`` or
    ``'delete'`` (including null) raise ``SketchConfigError`` — a typo'd
    tag must not silently become a collision-hazard delete."""
    ns = fold_n_shards(states_df, n_shards, 32)
    if ns <= 0:
        raise SketchConfigError("n_shards must be positive")
    per_shard_cap, _ = _shard_geometry(capacity, ns, fingerprint_bits, bucket_size)
    family = _creating_family(per_shard_cap, fingerprint_bits, bucket_size, native)
    return apply_ops_shards(states_df, ops_df, item_col, op_col, ns, family)


def cuckoo_delete_df(
    states_df: DataFrame,
    delete_df: DataFrame,
    item_col: str,
    n_shards: int | None = None,
) -> DataFrame:
    """Shard-parallel deletion against a DISTRIBUTED state table: the
    partitioned-family analog of :func:`cuckoo_delete`. Delete keys
    shuffle to their shard (8 bytes/key), each shard applies its slice
    executor-side, and the NEW states come back as a DataFrame — state
    bytes never visit the driver. Returns ``(shard, state, n_removed,
    n_shards)``; shards with no state row are passed over (those keys
    were never inserted). Aggregate ``n_removed`` for the removal count,
    and persist/write the result before probing it twice (it is a lazy
    plan like any other)."""
    ns = resolve_n_shards(states_df, n_shards)
    return delete_shards(states_df, delete_df, item_col, ns, _FAMILY)


def cuckoo_probe(
    probe_df: DataFrame,
    item_col: str,
    shard_states: list[bytes],
    out_col: str = "is_member",
) -> DataFrame:
    """Adds a boolean membership column: each row's key is hashed with
    the build's xxhash64, routed to its shard, and tested against the
    broadcast shard table — map-side, zero exchanges. Repeated probes of
    the same states reuse one broadcast and a per-worker cache."""
    from pyspark.sql.functions import pandas_udf

    # one build's shards share a family; a mixed list fails to load
    get_shards = published_state(
        probe_df.sparkSession.sparkContext, shard_states, _filter_class(shard_states[0])
    )
    ns = len(shard_states)

    def _probe(hashes):
        shards = get_shards()
        h = hashes.to_numpy(dtype="int64").view(np.uint64)
        sid = (hashes.to_numpy(dtype="int64") % ns + ns) % ns
        out = np.zeros(len(h), dtype=bool)
        for s in np.unique(sid):
            rows = np.flatnonzero(sid == s)
            out[rows] = shards[int(s)].contains_hashes(h[rows])
        return pd.Series(out)

    _probe.__annotations__ = {"hashes": pd.Series, "return": pd.Series}
    probe_udf = pandas_udf(BooleanType())(_probe)
    return probe_df.withColumn(
        out_col, probe_udf(F.xxhash64(F.col(item_col).cast("string")))
    )


def cuckoo_delete(
    shard_states: list[bytes],
    delete_df: DataFrame,
    item_col: str,
) -> tuple[list[bytes], int]:
    """Delete a key set from the sharded filter — the operation Bloom
    cannot do. Shard-parallel: the delete keys are COGROUPED with their
    shard's state executor-side, so each shard deletes its own slice
    inside one Arrow cogroup task (the same fold as
    :func:`cuckoo_delete_df`) and emits the new state bytes; raw delete
    hashes never travel to the driver. A 10⁸-key retraction feed (GDPR purge, revoked-domain list) shuffles
    only ``8·n_keys`` bytes between executors, and the driver collects
    exactly the ``n_shards`` state blobs it already holds.

    Per-shard delete order is ``np.unique``-sorted — deterministic under
    any partitioning. Returns (new shard states, n_removed)."""
    ns = len(shard_states)
    states_df = delete_df.sparkSession.createDataFrame(
        [(i, bytearray(s)) for i, s in enumerate(shard_states)],
        "shard int, state binary",
    )
    new_states: list[bytes] = [b""] * ns
    removed = 0
    for r in delete_shards(states_df, delete_df, item_col, ns, _FAMILY).collect():
        new_states[int(r["shard"])] = bytes(r["state"])
        removed += int(r["n_removed"])
    # every shard id has a state row, so each comes back exactly once
    assert all(new_states), "cogroup dropped a shard state"
    return new_states, removed


def _native_cuckoo_member_expr(item_col: str, tables, ns: int, m: int, fb: int, b: int):
    """The JVM membership predicate for native cuckoo shards:

        h     = xxhash64(item)                   (shard routing hash)
        shard = pmod(h, n_shards)
        g     = xxhash64(h)                      (remix — xxh64_long parity)
        fp    = shiftrightunsigned(g, 64-f), 0→1
        i1    = g & (m-1)
        i2    = i1 ^ (xxhash64(fp) & (m-1))

    then fp is compared against the ``bucket_size`` slots of buckets i1
    and i2 inside the routed shard's flattened table — 2·b ``element_at``
    equality tests, all in whole-stage codegen. Exactly the expressions
    whose numpy mirror built the table → zero false negatives."""
    h = F.xxhash64(F.col(item_col).cast("string"))
    shard = _pmod_route(h, int(ns))
    g = F.xxhash64(h)
    fp = F.call_function("shiftrightunsigned", g, F.lit(64 - fb))
    fp = F.when(fp == F.lit(0), F.lit(1)).otherwise(fp)
    i1 = g.bitwiseAND(F.lit(int(m - 1)))
    i2 = i1.bitwiseXOR(F.xxhash64(fp).bitwiseAND(F.lit(int(m - 1))))
    slots = F.element_at(tables, shard + F.lit(1))
    tests = []
    for bucket in (i1, i2):
        base = (bucket * F.lit(int(b))).cast("int")
        for s in range(b):
            tests.append(F.element_at(slots, base + F.lit(s + 1)) == fp)
    out = tests[0]
    for t in tests[1:]:
        out = out | t
    return out


def native_cuckoo_probe(
    probe_df: DataFrame,
    item_col: str,
    shard_states: list[bytes],
    out_col: str = "is_member",
) -> DataFrame:
    """:func:`cuckoo_probe` for shards built with ``native=True``, with
    ZERO Python in the per-row path — the deletable-membership member of
    the native-probe family (Bloom / quotient / CMS / expiring Bloom).
    All shard tables ride one broadcast ``array<array<bigint>>`` row;
    each probe row routes to its shard and tests its 2·bucket_size
    candidate slots entirely inside whole-stage codegen. Deletions are
    honored for free (a deleted fingerprint is simply absent from the
    broadcast table). Identical verdicts to :func:`cuckoo_probe` on the
    same states by construction."""
    shards = [_filter_from_bytes(b) for b in shard_states]
    if not all(isinstance(sk, NativeCuckooFilter) for sk in shards):
        raise SketchConfigError(
            "native_cuckoo_probe requires shards built with native=True "
            "(the parity family's splitmix64 buckets are not JVM-derivable)"
        )
    geo = {(sk.m, sk.fingerprint_bits, sk.bucket_size) for sk in shards}
    if len(geo) != 1:
        raise SketchConfigError(f"shards disagree on geometry: {geo}")
    m, fb, b = geo.pop()
    from probabilistic_rs_spark.operators.sketch_agg import pushdown_barrier

    # pushdown_barrier (round 8): keeps a downstream .where(is_member)
    # from inlining the 2·b slot tests into the join condition, where the
    # shared h/g/fp hash chain is re-evaluated per slot test per row
    # (join conditions get no codegen subexpression elimination)
    return relation_probe(
        probe_df, shard_states, "__ck_tables array<array<bigint>>",
        lambda: [sk.table.ravel().astype(np.int64) for sk in shards],
        lambda tables: pushdown_barrier(
            _native_cuckoo_member_expr(item_col, tables, len(shard_states), m, fb, b),
            boolean=True,
        ),
        out_col,
    )


def native_cuckoo_semi_filter(
    probe_df: DataFrame, item_col: str, shard_states: list[bytes]
) -> DataFrame:
    """Semi-join form, like ``native_bloom_semi_filter``: the membership
    predicate is evaluated once in a barriered ProjectExec (round 8 —
    in the join condition it would be evaluated without codegen CSE,
    re-deriving the h/g/fp hash chain per slot test per row) and the
    filter reads the materialized bit."""
    return _semi_filter(native_cuckoo_probe, probe_df, item_col, shard_states)
