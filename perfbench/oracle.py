"""Exact answers and the error-to-bound ratio of every sketch estimate.

Each family's observed error is divided by the bound the sketch
publishes. A family whose ratio exceeds ``1 + TOLERANCE[family]`` fails
the job; the tolerance covers the sampling spread of the error itself.

| family   | observed error                                   | published bound        |
|----------|--------------------------------------------------|------------------------|
| hll      | RMS over groups of |est - exact| / exact         | 1.04 / sqrt(2^p)       |
| kll      | RMS over groups of more than k values of the     | 2 / k                  |
|          | group's max rank error over q in GRID (grouped); |                        |
|          | max over q in QS (kll:max, each group)           |                        |
| cms      | max over probed keys of est - exact               | eps * N                |
| bloom    | false-positive rate on never-inserted keys        | target FPR             |
| windowed | false-positive rate on never-inserted keys        | 1 - (1 - FPR)^levels   |

The rank error of an estimate x of quantile q over exact values v is
the distance from q to [#(v < x) / n, #(v <= x) / n]; it is 0 exactly
when x is a valid q-quantile. Any false negative, underestimate or
row-count mismatch fails the job outright.

The end-to-end ``error_vs_bound`` is the largest ratio over the families
whose error pools many estimates (groups, probed keys); the ratio of a
single estimate (the worst single group, gated as ``kll:max``) is gated
only: one draw per run is not a steady metric.
"""

from __future__ import annotations

import math

import numpy as np

QS = (0.01, 0.5, 0.99)
# every percentile: the pooled grouped KLL error takes each group's worst
# rank error over all 99, which varies far less from seed to seed than
# the worst of QS alone; QS is a subset, so the same estimates gate QS
GRID = tuple(i / 100 for i in range(1, 100))

TOLERANCE = {
    # the RMS over many groups sits near or below the bound (about 0.5 of
    # it on rollup_hosts, where small groups are counted almost exactly)
    "hll": 1.0,
    # the 2/k KLL bound is empirical; the core tests allow 2x after merges
    "kll": 1.0,
    # eps*N holds per key with probability 1 - delta; the max over many
    # probed keys may exceed it
    "cms": 1.0,
    # binomial spread of a false-positive rate measured on >= 10^3 keys
    "bloom": 0.5,
    "windowed": 0.5,
}


def hll_bound(p: int) -> float:
    return 1.04 / math.sqrt(1 << p)


def kll_bound(k: int) -> float:
    return 2.0 / k


def windowed_bound(fpr: float, levels: int) -> float:
    return 1.0 - (1.0 - fpr) ** levels


class Check:
    """Collects per-family ratios and hard failures for one job."""

    def __init__(self):
        self.ratios: dict[str, float] = {}
        self.errors: list[str] = []
        self.details: dict[str, float] = {}
        self.pooled: dict[str, float] = {}

    def ratio(self, family: str, observed: float, bound: float, pooled: bool = True) -> None:
        """Record one family's error/bound. ``pooled=False`` marks a ratio
        drawn from a single estimate: it is gated but left out of
        :attr:`worst`, because one draw per run cannot be a steady metric."""
        r = float(observed) / float(bound)
        self.ratios[family] = max(r, self.ratios.get(family, 0.0))
        if pooled:
            self.pooled[family] = self.ratios[family]
        if r > 1.0 + TOLERANCE[family.split(":")[0]]:
            self.errors.append(f"{family}: error/bound {r:.3f} above tolerance")

    def require(self, ok: bool, message: str) -> None:
        if not ok:
            self.errors.append(message)

    @property
    def ok(self) -> bool:
        return not self.errors

    @property
    def worst(self) -> float:
        """The largest error/bound over families pooled from many estimates."""
        return max(self.pooled.values()) if self.pooled else 0.0


def rank_error(sorted_vals: np.ndarray, estimate, q):
    """Rank error of ``estimate`` as a ``q``-quantile; both may be arrays."""
    n = len(sorted_vals)
    lo = np.searchsorted(sorted_vals, estimate, side="left") / n
    hi = np.searchsorted(sorted_vals, estimate, side="right") / n
    return np.maximum(0.0, np.maximum(lo - q, q - hi))


class GroupedValues:
    """Per-group sorted exact values, for rank errors of grouped quantiles."""

    def __init__(self, keys: np.ndarray, values: np.ndarray):
        order = np.lexsort((values, keys))
        self.keys, self.values = keys[order], values[order]
        uniq, start = np.unique(self.keys, return_index=True)
        self.index = {k: i for i, k in enumerate(uniq.tolist())}
        self.start = start
        self.stop = np.append(start[1:], len(self.keys))

    def of(self, key) -> np.ndarray:
        i = self.index[key]
        return self.values[self.start[i] : self.stop[i]]


def rms_relative_error(est: np.ndarray, exact: np.ndarray) -> float:
    rel = (est.astype(np.float64) - exact) / np.maximum(exact, 1)
    return float(np.sqrt(np.mean(rel * rel))) if len(rel) else 0.0
