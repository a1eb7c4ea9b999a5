"""Correctness checks: compare sketch answers with the generator's truth.

A randomized sketch misses its error band with a known small probability,
so a check over many answers fails only when the number of misses is
more than chance allows (binomial tail below ``ALPHA``).  Deterministic
guarantees (heavy hitters, rollup equality, exact heads) allow no miss.
"""

from __future__ import annotations

import math

import numpy as np

ALPHA = 1e-6

# the repo's accuracy contracts (scripts/accuracy_grid.py, BASELINE.md):
# 3 standard errors for the distinct counters ...
RSE = {
    "theta": lambda lg_k: 1.0 / math.sqrt(1 << lg_k),
    "hll": lambda lg_k: 1.04 / math.sqrt(1 << lg_k),
    "cpc": lambda lg_k: 0.7213 / math.sqrt(1 << lg_k),
}
P_OUTSIDE_3SE = 0.0027
# ... twice the published normalized rank error for KLL / classic
# quantiles, 3.5% relative tail error for REQ, 2% rank error for t-digest
TDIGEST_RANK_ERR = 0.02
REQ_TAIL_REL_ERR = 0.035
P_RANK_MISS = 0.01


def allowed_misses(n: int, p: float) -> int:
    """Largest miss count c with P(Binomial(n, p) > c) >= ALPHA."""
    tail, c = 1.0, 0
    pmf = (1.0 - p) ** n
    while True:
        tail -= pmf
        if tail < ALPHA:
            return c
        c += 1
        pmf *= (n - c + 1) / c * p / (1.0 - p)


def distinct_misses(estimates: np.ndarray, exact: np.ndarray, family: str, lg_k: int) -> int:
    band = 3.0 * RSE[family](lg_k)
    return int(np.sum(np.abs(estimates / exact - 1.0) > band))


def rel_err_rms(estimates: np.ndarray, exact: np.ndarray) -> float:
    return float(np.sqrt(np.mean((estimates / exact - 1.0) ** 2)))


def true_rank(sorted_x: np.ndarray, value: float) -> float:
    """Fraction of the group's values <= value (the inclusive rank)."""
    return np.searchsorted(sorted_x, value, side="right") / sorted_x.size


def rank_misses(sk, family: str, sorted_x: np.ndarray, ranks: np.ndarray) -> int:
    """Misses of ``get_quantile`` at ``ranks`` against the exact ranks."""
    misses = 0
    if family in ("kll", "quantiles"):
        band = 2.0 * sk.normalized_rank_error(True)
        for r in ranks:
            misses += abs(true_rank(sorted_x, sk.get_quantile(r, True)) - r) > band
    elif family == "req":
        for r in ranks[ranks >= 0.9]:
            got = true_rank(sorted_x, sk.get_quantile(r, True))
            misses += abs(got - r) / (1.0 - r) > REQ_TAIL_REL_ERR
    elif family == "tdigest":
        for r in ranks:
            misses += abs(true_rank(sorted_x, sk.get_quantile(r)) - r) > TDIGEST_RANK_ERR
    return int(misses)


def heavy_hitters_ok(sk, items: np.ndarray, counts: np.ndarray) -> bool:
    """Every item heavier than the sketch's a-priori error is reported,
    and its true count lies within the reported bounds."""
    reported = {row[0] for row in sk.get_frequent_items("NO_FALSE_NEGATIVES")}
    threshold = sk.epsilon * sk.total_weight()
    for item, count in zip(items, counts):
        if count > threshold and item not in reported:
            return False
        if count > threshold and not (
            sk.get_lower_bound(item) <= count <= sk.get_upper_bound(item)
        ):
            return False
    return True


class Tally:
    """Attempted / failed op executions, per op name."""

    def __init__(self) -> None:
        self.attempted: dict[str, int] = {}
        self.failed: dict[str, int] = {}
        self.reasons: list[str] = []

    def record(self, op: str, problem: str | None) -> None:
        self.attempted[op] = self.attempted.get(op, 0) + 1
        if problem:
            self.failed[op] = self.failed.get(op, 0) + 1
            if len(self.reasons) < 20:
                self.reasons.append(f"{op}: {problem}")

    @property
    def total_attempted(self) -> int:
        return sum(self.attempted.values())

    @property
    def total_failed(self) -> int:
        return sum(self.failed.values())
