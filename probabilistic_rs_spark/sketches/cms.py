"""Count-Min Sketch — paper-derived `[papers]` (Cormode–Muthukrishnan 2005).

Planned-but-unimplemented in the reference (``specs/overview.md:20-24``);
built with the reference's idioms: config → derived (d, w), mergeable
binary state, batched vectorized updates.

* state: ``d × w`` int64 matrix, ``d = ceil(ln 1/δ)``, ``w = next_pow2(e/ε)``
  (power-of-two width so the row index is a mask, and so all partials for a
  given (ε, δ) are merge-compatible).
* update: +count at one cell per row, cells derived from a single 64-bit
  hash via Kirsch–Mitzenmacher double hashing (same idiom the reference's
  Bloom uses, ``src/hash.rs:67-77``).
* merge: matrix add (associative + commutative, exact).
* estimate: min over the d cells — overestimates by ≤ εN with prob ≥ 1−δ.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from probabilistic_rs_spark.errors import SketchConfigError, SketchStateError
from probabilistic_rs_spark.sketches.base import TYPE_CMS, pack_header, unpack_header, unpack_meta

U64 = np.uint64

_META = struct.Struct("<ddqqq")  # eps, delta, d, w, n_total


class CountMinSketch:
    __slots__ = ("eps", "delta", "d", "w", "table", "n_total")

    # A global build merges the partials on one executor and pulls one
    # blob: a dense partial is d×w int64 (1.8 MB at the default
    # eps=1e-4, delta=1e-3), so a driver fold of 128 partitions raised
    # the Python driver's peak RSS from 146 to 556 MB (local[4]).
    FOLD_ON_EXECUTOR = True

    def __init__(self, eps: float = 0.0001, delta: float = 0.001):
        if not (0.0 < eps < 1.0):
            raise SketchConfigError("CMS eps must be in (0,1)")
        if not (0.0 < delta < 1.0):
            raise SketchConfigError("CMS delta must be in (0,1)")
        self.eps = eps
        self.delta = delta
        self.d = max(1, math.ceil(math.log(1.0 / delta)))
        w = max(2, math.ceil(math.e / eps))
        self.w = 1 << (w - 1).bit_length()  # next power of two
        self.table = np.zeros((self.d, self.w), dtype=np.int64)
        self.n_total = 0

    def _cells(self, hashes: np.ndarray) -> np.ndarray:
        """(d, n) column indices from one 64-bit hash per item via
        double hashing; h2 forced odd so strides cover the full row.
        uint32 output (w ≤ 2³²) — half the index-matrix memory traffic."""
        h = hashes.astype(U64, copy=False)
        h1 = h >> U64(32)
        h2 = (h & U64(0xFFFFFFFF)) | U64(1)
        j = np.arange(self.d, dtype=U64)[:, None]
        mask = U64(self.w - 1)
        with np.errstate(over="ignore"):
            return ((h1[None, :] + j * h2[None, :]) & mask).astype(np.uint32)

    def update_hashes(self, hashes: np.ndarray, counts: np.ndarray | None = None) -> None:
        n = len(hashes)
        if n == 0:
            return
        cells = self._cells(hashes)
        if counts is None:
            counts = np.ones(n, dtype=np.int64)
            self.n_total += n
        else:
            counts = counts.astype(np.int64, copy=False)
            self.n_total += int(counts.sum())
        for j in range(self.d):
            np.add.at(self.table[j], cells[j], counts)

    def estimate_hashes(self, hashes: np.ndarray) -> np.ndarray:
        """Point estimates for a batch of item hashes: min over d rows."""
        if len(hashes) == 0:
            return np.zeros(0, dtype=np.int64)
        cells = self._cells(hashes)
        ests = self.table[np.arange(self.d)[:, None], cells]
        return ests.min(axis=0)

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        if (self.d, self.w) != (other.d, other.w):
            raise SketchStateError(
                f"CMS shape mismatch: ({self.d},{self.w}) vs ({other.d},{other.w})"
            )
        self.table += other.table
        self.n_total += other.n_total
        return self

    def error_bound(self) -> float:
        """Additive overestimate bound εN (holds with prob ≥ 1-δ)."""
        return self.eps * self.n_total

    def merge_bytes(self, data: bytes) -> "CountMinSketch":
        """Add a serialized state directly into this table without
        materializing a second dense matrix (merge hot path — one dense
        allocation per reducer instead of one per partial)."""
        version, off = unpack_header(data, TYPE_CMS)
        eps, delta, d, w, n_total = unpack_meta(_META, data, off)
        if (self.d, self.w) != (d, w):
            raise SketchStateError(
                f"CMS shape mismatch: ({self.d},{self.w}) vs ({d},{w})"
            )
        body_off = off + _META.size
        if version == 2:
            body = len(data) - body_off
            if body % 12:
                raise SketchStateError("corrupt sparse CMS payload")
            nnz = body // 12
            idx = np.frombuffer(data, dtype=np.uint32, offset=body_off, count=nnz)
            cnt = np.frombuffer(data, dtype=np.int64, offset=body_off + 4 * nnz, count=nnz)
            if nnz and int(idx.max()) >= d * w:
                raise SketchStateError("sparse CMS index out of range")
            # index the 2-D table directly: ravel() on a non-contiguous
            # array would silently return a copy and drop the merge
            np.add.at(self.table, (idx // w, idx % w), cnt)
        else:
            table = np.frombuffer(data, dtype=np.int64, offset=body_off)
            if len(table) != d * w:
                raise SketchStateError("CMS table size mismatch")
            self.table += table.reshape(d, w)
        self.n_total += n_total
        return self

    # -- serialization ---------------------------------------------------------

    def to_bytes(self) -> bytes:
        """Adaptive: version 1 = dense d×w int64 matrix; version 2 = sparse
        (uint32 flat index, int64 count) pairs, chosen when smaller.
        Partition-local partials touch ≤ d·rows cells of the d·w table, so
        at scale the shuffle carries the occupied cells only."""
        meta = _META.pack(self.eps, self.delta, self.d, self.w, self.n_total)
        flat = self.table.ravel()
        nz = np.flatnonzero(flat)
        if len(nz) * 12 < flat.nbytes:
            payload = nz.astype(np.uint32).tobytes() + flat[nz].tobytes()
            return pack_header(TYPE_CMS, version=2) + meta + payload
        return pack_header(TYPE_CMS, version=1) + meta + self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "CountMinSketch":
        version, off = unpack_header(data, TYPE_CMS)
        eps, delta, d, w, n_total = unpack_meta(_META, data, off)
        sk = cls(eps=eps, delta=delta)
        if (sk.d, sk.w) != (d, w):
            raise SketchStateError("CMS derived shape mismatch on deserialize")
        body_off = off + _META.size
        if version == 2:
            body = len(data) - body_off
            if body % 12:
                raise SketchStateError("corrupt sparse CMS payload")
            nnz = body // 12
            idx = np.frombuffer(data, dtype=np.uint32, offset=body_off, count=nnz)
            cnt = np.frombuffer(data, dtype=np.int64, offset=body_off + 4 * nnz, count=nnz)
            if nnz and int(idx.max()) >= d * w:
                raise SketchStateError("sparse CMS index out of range")
            sk.table[idx // w, idx % w] = cnt
        else:
            table = np.frombuffer(data, dtype=np.int64, offset=body_off)
            if len(table) != d * w:
                raise SketchStateError("CMS table size mismatch")
            sk.table = table.reshape(d, w).copy()
        sk.n_total = n_total
        return sk
