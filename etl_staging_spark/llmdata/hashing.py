"""Cross-engine deterministic hashing for the dedup/similarity operators.

Spark's ``xxhash64``/``hash`` have no DuckDB twin, so operators built on
them could only get rows-only correctness checks. Instead every
hash-derived value here comes from md5, which all three engines share:

- Spark: ``conv(<little-endian hex of md5 bytes 9..15>, 16, 10)``
- DuckDB: ``md5_number_lower(s) % 2^56``
- Python: ``int.from_bytes(md5(s).digest()[8:16], 'little') % 2^56``

56 bits (not 64) so the value always fits a signed BIGINT in both
engines. md5 is cryptographic, so the low bits are uniformly
distributed — fine as a MinHash / LSH base hash.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

TWO_56 = 1 << 56  # 72057594037927936
MERSENNE31 = 2147483647  # 2^31-1, modulus of the affine MinHash permutations

# 16 affine permutations h_i(x) = (a_i * (x mod p) + b_i) mod p, banded as
# 4 bands x 4 rows (LSH s-curve threshold ~ (1/4)^(1/4) ~ 0.71).
# Fixed arbitrary constants, embedded identically in the DuckDB oracles.
MINHASH_SEEDS: list[tuple[int, int]] = [
    (1103515245, 12345), (69069, 362437), (1664525, 1013904223),
    (22695477, 1), (134775813, 1), (214013, 2531011),
    (16807, 0), (48271, 11), (40692, 28411),
    (69621, 23902), (40014, 12211), (65539, 7),
    (75, 74), (1366, 150889), (8121, 28411), (4096, 150889),
]
N_BANDS = 4
BAND_ROWS = 4


def portable_hash56(col: Column | str) -> Column:
    """56-bit md5-derived hash as a Spark Column (BIGINT)."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.md5(c)
    # little-endian: md5 bytes 15..9 = hex char pairs at 29,27,...,17
    le = F.concat(*[F.substring(h, p, 2) for p in (29, 27, 25, 23, 21, 19, 17)])
    return F.conv(le, 16, 10).cast("bigint")


def o_hash56(expr: str) -> str:
    """DuckDB twin of :func:`portable_hash56`."""
    return f"CAST(md5_number_lower({expr}) % {TWO_56} AS BIGINT)"


def py_hash64(s: str) -> int:
    """Full 64-bit little-endian low half of md5 — matches DuckDB's
    ``md5_number_lower`` exactly (used by the multimodal decode stub)."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[8:16], "little")


def py_hash56(s: str) -> int:
    return py_hash64(s) % TWO_56


def minhash_col(h_col: Column, a: int, b: int) -> Column:
    """One affine MinHash permutation applied to a 56-bit hash column.
    ``a*(h%p)`` <= ~2^31 * 2^31 < 2^63, so BIGINT arithmetic is exact in
    both engines."""
    return (F.lit(a) * (h_col % MERSENNE31) + F.lit(b)) % MERSENNE31


def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH, derived from
    md5 so any engine can regenerate them. Components in [-1, 1] with
    3-decimal granularity (exactly representable, so sign decisions are
    reproducible)."""
    return [
        [((py_hash56(f"plane:{p}:{d}") % 2001) - 1000) / 1000.0 for d in range(dim)]
        for p in range(n_planes)
    ]
