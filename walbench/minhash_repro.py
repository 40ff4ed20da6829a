"""Reproduce the MinHash-LSH miss rate of walrus_spark.operators.dedup.

    python3 walbench/minhash_repro.py

Simulates PAIRS document pairs at Jaccard ~0.887 (94 shared of 106 distinct
shingles), signs both sides with the program's own (a, b) constants
and signature rule (a * (h & 0xFFFFFFFF) + b) mod (2^61 - 1), bands them
as minhash_lsh_pairs does (16 bands of 4 rows) and counts pairs that
share no band: those pairs never become candidates. The same pairs
signed with 64 independent hash functions (splitmix64 under distinct
seeds) give the rate the banding is designed for. Needs numpy only, no
Spark.
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHARED, ONLY_A, ONLY_B = 94, 6, 6  # J = 94 / 106
PAIRS = 20_000
SEED = 1


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def miss_rate(sign, pairs: int, rng: np.random.Generator, bands: int, rows: int) -> float:
    n = SHARED + ONLY_A + ONLY_B
    h = rng.integers(0, 2**63, size=(pairs, n), dtype=np.int64)
    a_set = np.concatenate([h[:, :SHARED], h[:, SHARED : SHARED + ONLY_A]], axis=1)
    b_set = np.concatenate([h[:, :SHARED], h[:, SHARED + ONLY_A :]], axis=1)
    sa, sb = sign(a_set), sign(b_set)  # (pairs, perms)
    eq = (sa == sb).reshape(pairs, bands, rows).all(axis=2)
    return float((~eq.any(axis=1)).mean())


def main() -> int:
    from walrus_spark.operators.dedup import LSH_BANDS, N_PERM, _MERSENNE_61, _PERM

    rows = N_PERM // LSH_BANDS
    av = np.array([p for p, _ in _PERM], dtype=np.int64)
    bv = np.array([q for _, q in _PERM], dtype=np.int64)

    def program(hs: np.ndarray) -> np.ndarray:
        h32 = (hs.view(np.uint64) & np.uint64(0xFFFFFFFF)).astype(np.int64)
        vals = (h32[:, :, None] * av[None, None, :] + bv[None, None, :]) % _MERSENNE_61
        return vals.min(axis=1)

    seeds = np.arange(1, N_PERM + 1, dtype=np.uint64) * np.uint64(0x632BE59BD9B4E019)

    def independent(hs: np.ndarray) -> np.ndarray:
        return _splitmix64(hs.view(np.uint64)[:, :, None] ^ seeds[None, None, :]).min(axis=1)

    rng = np.random.default_rng(SEED)
    j = SHARED / (SHARED + ONLY_A + ONLY_B)
    print(f"pairs {PAIRS}, J = {j:.3f}, {LSH_BANDS} bands x {rows} rows")
    print(f"a < 2^{int(av.max()).bit_length()}, b < 2^{int(bv.max()).bit_length()}, p = 2^61-1")
    print(f"program hash family:  miss rate {miss_rate(program, PAIRS, rng, LSH_BANDS, rows):.4%}")
    print(f"independent hashes:   miss rate {miss_rate(independent, PAIRS, rng, LSH_BANDS, rows):.4%}")
    print(f"analytic (independent): {(1 - j**rows) ** LSH_BANDS:.2e}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
