"""Portable deterministic hashing builders.

Everything here composes JVM built-ins (md5 / conv / substring), so the
hot path stays inside whole-stage codegen — no Python UDFs — and every
hash is reproducible across engines: the DuckDB oracles compute the
same values with ``md5`` + hex-literal casts. (Spark's ``xxhash64`` /
``hash`` are faster but engine-specific; we standardize on md5-derived
hashes for the correctness-gated operators and note that a production
deployment could swap in xxhash64 1:1.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_prefix(col: Column, seed: str = "", length: int = 12) -> Column:
    """Hex-string hash prefix; lexicographic min on fixed-length hex ==
    numeric min, which is what MinHash needs — no int conversion at all.

    DuckDB equivalent: ``substr(md5('{seed}' || x), 1, {length})``.
    """
    x = F.concat(F.lit(seed), col) if seed else col
    return F.substring(F.md5(x), 1, length)


def hash60(col: Column) -> Column:
    """60-bit non-negative integer hash (15 hex chars of md5 → bigint).

    DuckDB equivalent: ``CAST('0x' || substr(md5(x),1,15) AS BIGINT)``.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


#: Mersenne prime 2^61-1 — modulus for the double-hashing MinHash family.
MERSENNE61 = (1 << 61) - 1


def minhash_hashes(col: Column, n: int) -> list[Column]:
    """``n`` independent-enough MinHash functions from ONE md5 call.

    Kirsch–Mitzenmacher double hashing: ``h_i = (h1 + i·h2) mod 2^61-1``
    with ``h1`` = 60 bits (hex chars 1-15) and ``h2`` = 48 bits (hex
    chars 16-27) of the same digest. One digest per token instead of
    ``n`` — at 100 TB the hashing of every token ``n`` times IS the
    MinHash cost, so this is an ~n× CPU cut on the dominant stage.
    ``i·h2 + h1 < 2^52 + 2^60 < 2^63``: no 64-bit overflow on either
    engine, so the DuckDB oracle reproduces values exactly:

    ``(CAST(('0x'||substr(md5(x),1,15)) AS BIGINT)
       + i * CAST(('0x'||substr(md5(x),16,12)) AS BIGINT))
      % 2305843009213693951``
    """
    m = F.md5(col)
    h1 = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(m, 16, 12), 16, 10).cast("long")
    return [(h1 + F.lit(i) * h2) % F.lit(MERSENNE61) for i in range(n)]
