"""Cuckoo filter — the reference's next planned structure
(``specs/overview.md:20-21`` — "Cuckoo filters (next after expiring
bloom)"), derived from the paper `[papers]` (Fan, Andersen, Kaminsky,
Mitzenmacher — "Cuckoo Filter: Practically Better than Bloom", CoNEXT'14)
with the library's idioms: config → derived table geometry, versioned
binary state, vectorized batch probes, driver-side validation.

What it adds over Bloom: **deletion** (remove a previously-inserted item
without rebuilding) and better space at low FPR. Semantics:

* table: ``m`` buckets (power of two) × ``bucket_size`` slots of
  ``fingerprint_bits``-bit fingerprints (0 = empty; fingerprints are
  remapped to avoid 0).
* partial-key cuckoo hashing: ``i1 = h & (m−1)``,
  ``i2 = i1 ^ (mix(fp) & (m−1))`` — i2 is computable from (i1, fp)
  alone, which is what makes relocation (and deletion) possible.
* insert: place in i1/i2 if a slot is free, else displace — with a
  DETERMINISTIC kick sequence (slot = kick_count % bucket_size, always
  continue from the displaced item's alternate bucket), so a build over
  the same sorted key set is bit-identical everywhere.
* delete: clear one matching fingerprint slot from i1/i2. Guaranteed
  safe only for items actually inserted (paper §3.3); a fingerprint
  collision inside the same bucket pair can delete a twin — probability
  ≈ 2·bucket_size/2^fingerprint_bits per co-located pair (negligible at
  24 bits).
* contains: fingerprint present in either candidate bucket; zero false
  negatives for inserted-and-not-deleted items, FPR ≈
  ``2·bucket_size / 2^fingerprint_bits``.

Distributed mapping (see ``operators/cuckoo.py``): cuckoo insertion is a
sequential displacement chain, so unlike Bloom there is NO associative
state merge. The Spark build therefore shards by key hash — each shard
builds its own filter over its (sorted, distinct) hashes inside one
Arrow group-map task — and probes route by the same shard function.
Shard builds are embarrassingly parallel and deterministic.
"""

from __future__ import annotations

import struct

import numpy as np

from probabilistic_rs_spark.errors import SketchConfigError, SketchStateError
from probabilistic_rs_spark.functions.hashing import splitmix64
from probabilistic_rs_spark.sketches.base import (
    TYPE_CUCKOO,
    TYPE_NCUCKOO,
    pack_header,
    unpack_header,
    unpack_meta,
)

U32 = np.uint32
U64 = np.uint64

# capacity, fingerprint_bits, bucket_size, m, n_items
_META = struct.Struct("<qqqqq")

_MAX_KICKS = 500


def _rank_in_group(sorted_keys: np.ndarray) -> np.ndarray:
    """0-based rank of each element within its run of equal keys
    (input must be sorted by key)."""
    n = len(sorted_keys)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    first = np.flatnonzero(np.concatenate(([True], sorted_keys[1:] != sorted_keys[:-1])))
    run_lens = np.diff(np.concatenate((first, [n])))
    return np.arange(n) - np.repeat(first, run_lens)


class CuckooFilter:
    __slots__ = ("capacity", "fingerprint_bits", "bucket_size", "m", "table", "n_items")

    # wire-format type tag; the native subclass overrides it so tables
    # built with different alternate-bucket hash families can never be
    # silently cross-probed
    _TYPE = TYPE_CUCKOO

    def __init__(
        self,
        capacity: int = 1_000_000,
        fingerprint_bits: int = 24,
        bucket_size: int = 4,
    ):
        if capacity <= 0:
            raise SketchConfigError("Capacity must be greater than 0")
        if not (4 <= fingerprint_bits <= 32):
            raise SketchConfigError("fingerprint_bits must be in [4, 32]")
        if bucket_size not in (2, 4, 8):
            raise SketchConfigError("bucket_size must be 2, 4 or 8")
        self.capacity = int(capacity)
        self.fingerprint_bits = int(fingerprint_bits)
        self.bucket_size = int(bucket_size)
        self.m = self._derive_m(capacity, bucket_size)
        self.table = np.zeros((self.m, bucket_size), dtype=U32)
        self.n_items = 0

    @staticmethod
    def _derive_m(capacity: int, bucket_size: int) -> int:
        """Bucket count for a capacity — 95% max load (paper table 2 for
        b=4), next power of two. Pure arithmetic (no allocation) so
        deserializers can validate a claimed geometry BEFORE building the
        table: a corrupt capacity field must not become a huge
        ``np.zeros`` (found by the wire-fuzz sweep — a single flipped
        byte requested an 8 TiB table)."""
        need = max(1, int(np.ceil(capacity / (bucket_size * 0.95))))
        return 1 << (need - 1).bit_length()

    # -- hashing ---------------------------------------------------------------

    def _fp_and_buckets(self, hashes: np.ndarray):
        # remix first: callers may have consumed low bits of the raw hash
        # for routing (the shard build uses pmod(h, n_shards)), which
        # would otherwise pin the low bucket-index bits within a shard
        # and overload m/n_shards of the table
        g = splitmix64(hashes.astype(U64, copy=False))
        fp_mask = U64((1 << self.fingerprint_bits) - 1)
        fp = ((g >> U64(64 - self.fingerprint_bits)) & fp_mask).astype(U64)
        fp = np.where(fp == 0, U64(1), fp)  # 0 means empty slot
        m_mask = U64(self.m - 1)
        i1 = (g & m_mask).astype(np.int64)
        i2 = (i1 ^ (splitmix64(fp) & m_mask).astype(np.int64)).astype(np.int64)
        return fp.astype(U32), i1, i2

    def _alt_bucket(self, fp: int, i: int) -> int:
        return int(i ^ (int(splitmix64(np.array([fp], dtype=U64))[0]) & (self.m - 1)))

    # -- update ----------------------------------------------------------------

    def insert_hashes(self, hashes: np.ndarray) -> None:
        """Insert a batch of 64-bit item hashes. Deterministic for a given
        input order (build from np.unique-sorted hashes for partition-
        order-independent tables). Raises when the table cannot absorb an
        item within the kick budget (filter effectively full).

        Two-phase vectorized bulk path (VERDICT r2 #5; generalized to ANY
        table state in round 5): phase A places every item that fits a
        free slot of its home bucket (one stable argsort + rank-in-group,
        hole-aware — deleted slots mid-bucket are reused, occupants never
        clobbered), phase B places home-bucket overflow into alternate
        buckets the same way, and only the residual few percent walk the
        per-item displacement chain. Incremental insert generations
        (``cuckoo_apply_ops_df``) therefore run vectorized too (~700k/s
        into a holey table vs ~160k/s on the per-item path). The bulk
        layout is DETERMINISTIC for a given (table state, input order) —
        bit-identical tables under any partitioning, since shard builds
        take this path from np.unique-sorted hashes — and on an EMPTY
        table it reproduces the round-2 bulk layout bit-for-bit (the
        free-slot map of an empty bucket is the identity). It is NOT the
        layout the pre-bulk sequential path produced: phase B appends all
        alt-bucket spills after all home placements, where the old loop
        interleaved spills with later home arrivals. Membership semantics
        are unaffected and the partitioning-invariance contract holds,
        but a state persisted by the sequential-era code can compare
        bit-unequal to one rebuilt from the same keys today (ADVICE r3
        #4) — nothing in this engine bit-compares states ACROSS code
        versions (the merge-determinism tests compare within one build),
        and no external consumer should either."""
        hashes = np.asarray(hashes)
        if len(hashes) == 0:
            return
        fps, i1s, i2s = self._fp_and_buckets(hashes)
        leftover = self._bulk_place(fps, i1s, i2s)
        if len(leftover) == 0:
            return
        fps, i1s, i2s = fps[leftover], i1s[leftover], i2s[leftover]
        for fp, i1, i2 in zip(fps.tolist(), i1s.tolist(), i2s.tolist()):
            self._insert_one(fp, i1, i2)

    def _free_slot_map(self):
        """(holes, free): for each bucket, ``holes[i, j]`` is its j-th
        empty slot index (ascending) and ``free[i]`` how many there are —
        one stable argsort over the (m, b) emptiness mask. On an empty
        table this is the identity layout (slot j = j), so the
        generalized placement below reproduces the historical empty-table
        layout bit-for-bit."""
        occupied = self.table != 0
        holes = np.argsort(occupied, axis=1, kind="stable")
        free = self.bucket_size - occupied.sum(axis=1)
        return holes, free

    def _bulk_place(self, fps: np.ndarray, i1s: np.ndarray, i2s: np.ndarray) -> np.ndarray:
        """Vectorized free-slot placement — OCCUPANCY- and HOLE-aware
        (round 5): works on any table state, not just an empty one, so
        incremental insert generations (``cuckoo_apply_ops_df``) run the
        vectorized path instead of the per-item displacement loop.
        Deleted slots leave holes mid-bucket; placements go into each
        bucket's actual zero slots (via :meth:`_free_slot_map`), never
        clobbering occupants. Returns the (arrival-ordered) indices of
        items needing the displacement loop."""
        # phase A: home buckets. Stable sort by bucket keeps arrival order
        # within each bucket; rank-in-group < free wins that bucket's holes.
        holes, free = self._free_slot_map()
        order_a = np.argsort(i1s, kind="stable")
        buck_a = i1s[order_a]
        rank_a = _rank_in_group(buck_a)
        place_a = rank_a < free[buck_a]
        slots_a = holes[buck_a[place_a], rank_a[place_a]]
        self.table[buck_a[place_a], slots_a] = fps[order_a[place_a]]
        self.n_items += int(place_a.sum())
        spill = np.sort(order_a[~place_a])  # back to arrival order
        if len(spill) == 0:
            return spill
        # phase B: alternate buckets, into the holes phase A left
        holes, free = self._free_slot_map()
        order_b = spill[np.argsort(i2s[spill], kind="stable")]
        buck_b = i2s[order_b]
        rank_b = _rank_in_group(buck_b)
        place_b = rank_b < free[buck_b]
        slots_b = holes[buck_b[place_b], rank_b[place_b]]
        self.table[buck_b[place_b], slots_b] = fps[order_b[place_b]]
        self.n_items += int(place_b.sum())
        return np.sort(order_b[~place_b])

    def _insert_one(self, fp: int, i1: int, i2: int) -> None:
        table = self.table
        b = self.bucket_size
        placed = False
        for i in (i1, i2):
            row = table[i]
            for s in range(b):
                if row[s] == 0:
                    row[s] = fp
                    placed = True
                    break
            if placed:
                break
        if placed:
            self.n_items += 1
            return
        # displacement chain, deterministic slot choice
        i = i2
        cur = fp
        for kick in range(_MAX_KICKS):
            s = kick % b
            victim = int(table[i, s])
            table[i, s] = cur
            cur = victim
            i = self._alt_bucket(cur, i)
            row = table[i]
            done = False
            for s2 in range(b):
                if row[s2] == 0:
                    row[s2] = cur
                    done = True
                    break
            if done:
                break
        else:
            raise SketchStateError(
                f"cuckoo filter full at {self.n_items} items "
                f"(capacity {self.capacity})"
            )
        self.n_items += 1

    def delete_hashes(self, hashes: np.ndarray) -> int:
        """Remove one matching fingerprint per input hash (from either
        candidate bucket). Returns how many were found-and-removed. Safe
        for items that were actually inserted (paper §3.3)."""
        fps, i1s, i2s = self._fp_and_buckets(np.asarray(hashes))
        removed = 0
        table = self.table
        for fp, i1, i2 in zip(fps.tolist(), i1s.tolist(), i2s.tolist()):
            hit = False
            for i in (i1, i2):
                row = table[i]
                for s in range(self.bucket_size):
                    if row[s] == fp:
                        row[s] = 0
                        hit = True
                        break
                if hit:
                    break
            if hit:
                removed += 1
                self.n_items -= 1
        return removed

    # -- probe -----------------------------------------------------------------

    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership for a batch of item hashes: gather both
        candidate buckets and compare fingerprints — no per-row Python."""
        hashes = np.asarray(hashes)
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        fps, i1s, i2s = self._fp_and_buckets(hashes)
        rows = np.concatenate([self.table[i1s], self.table[i2s]], axis=1)  # (n, 2b)
        return (rows == fps[:, None]).any(axis=1)

    # -- stats -----------------------------------------------------------------

    def load_factor(self) -> float:
        return float((self.table != 0).sum()) / (self.m * self.bucket_size)

    def false_positive_rate(self) -> float:
        """Paper bound: ε ≈ 2·b / 2^f (two buckets of b slots tested)."""
        return 2.0 * self.bucket_size / float(1 << self.fingerprint_bits)

    # -- serialization ---------------------------------------------------------

    def to_bytes(self) -> bytes:
        meta = _META.pack(
            self.capacity, self.fingerprint_bits, self.bucket_size, self.m, self.n_items
        )
        flat = self.table.ravel()
        nz = np.flatnonzero(flat)
        # sparse: (uint32 slot index, uint32 fingerprint) pairs
        if len(nz) * 8 < flat.nbytes:
            payload = nz.astype(U32).tobytes() + flat[nz].tobytes()
            return pack_header(self._TYPE, version=2) + meta + payload
        return pack_header(self._TYPE, version=1) + meta + self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "CuckooFilter":
        version, off = unpack_header(data, cls._TYPE)
        capacity, fbits, bsize, m, n_items = unpack_meta(_META, data, off)
        # geometry sanity BEFORE any allocation: a corrupt capacity/m pair
        # must fail loudly, not attempt a table of the corrupt size
        if capacity <= 0 or bsize not in (2, 4, 8):
            raise SketchStateError(
                f"corrupt cuckoo meta: capacity={capacity}, bucket_size={bsize}"
            )
        if cls._derive_m(capacity, bsize) != m:
            raise SketchStateError("cuckoo derived geometry mismatch on deserialize")
        sk = cls(capacity=capacity, fingerprint_bits=fbits, bucket_size=bsize)
        body = off + _META.size
        if version == 2:
            rest = len(data) - body
            if rest % 8:
                raise SketchStateError("corrupt sparse cuckoo payload")
            nnz = rest // 8
            idx = np.frombuffer(data, dtype=U32, offset=body, count=nnz)
            vals = np.frombuffer(data, dtype=U32, offset=body + 4 * nnz, count=nnz)
            if nnz and int(idx.max()) >= m * bsize:
                raise SketchStateError("sparse cuckoo index out of range")
            sk.table[idx // bsize, idx % bsize] = vals
        else:
            flat = np.frombuffer(data, dtype=U32, offset=body)
            if len(flat) != m * bsize:
                raise SketchStateError("cuckoo table size mismatch")
            sk.table = flat.reshape(m, bsize).copy()
        sk.n_items = n_items
        return sk


class NativeCuckooFilter(CuckooFilter):
    """Cuckoo table whose remix AND alternate-bucket hash are XXH64 of an
    8-byte integer — the exact function Spark's ``xxhash64`` expression
    computes over a LONG column — so a JVM probe can derive (fp, i1, i2)
    entirely inside whole-stage codegen:

        g  = xxhash64(xxhash64(item))          (remix of the routing hash)
        fp = shiftrightunsigned(g, 64-f), 0→1
        i1 = g & (m-1)
        i2 = i1 ^ (xxhash64(fp) & (m-1))

    The Python build side mirrors this bit-for-bit via
    :func:`~probabilistic_rs_spark.functions.hashing.xxh64_long` (pinned
    against live Spark output). Same table geometry, displacement
    semantics, wire layout, and FPR bound as the parity class — only the
    hash family and the wire tag differ, so the two families can never be
    silently cross-probed."""

    _TYPE = TYPE_NCUCKOO

    def _fp_and_buckets(self, hashes: np.ndarray):
        from probabilistic_rs_spark.functions.hashing import xxh64_long

        g = xxh64_long(hashes.astype(U64, copy=False).view(np.int64))
        fp_mask = U64((1 << self.fingerprint_bits) - 1)
        fp = ((g >> U64(64 - self.fingerprint_bits)) & fp_mask).astype(U64)
        fp = np.where(fp == 0, U64(1), fp)
        m_mask = U64(self.m - 1)
        i1 = (g & m_mask).astype(np.int64)
        i2 = (i1 ^ (xxh64_long(fp.view(np.int64)) & m_mask).astype(np.int64)).astype(np.int64)
        return fp.astype(U32), i1, i2

    def _alt_bucket(self, fp: int, i: int) -> int:
        from probabilistic_rs_spark.functions.hashing import xxh64_long

        alt = int(xxh64_long(np.array([fp], dtype=np.int64))[0])
        return int(i ^ (alt & (self.m - 1)))
