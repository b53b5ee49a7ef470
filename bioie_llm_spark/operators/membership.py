"""Distributed Bloom-filter membership: the broadcast-set screen's 100 TB
scale path.

The exact contamination screen broadcasts the benchmark's distinct gram
set (operators/curation.contamination_check). That works while the
benchmark is MBs; when the "have we seen this key" side grows to GBs —
URL-seen lists, cross-batch doc-hash registries, giant eval suites — an
exact broadcast stops fitting and a Bloom filter is the standard
replacement: ~10 bits/key at 1% false positives, ZERO false negatives by
construction (a Bloom never misses a true member, so a screen built on
it can only over-flag, never leak).

Execution shape, pure Catalyst (no Python worker is started):
- positions: Kirsch-Mitzenmacher double hashing over two JVM-side base
  hashes, ``a = pmod(xxhash64(v), m)`` and ``b = pmod(xxhash64(v, 1), m)``,
  then ``pos_i = pmod(a + i*b, m)`` for ``i`` in ``0..k-1``. Reducing
  modulo m first keeps ``a + i*b`` below ``k*m``, so the arithmetic
  cannot overflow a long (Spark 4 runs with ANSI on and would raise);
- build: explode the k positions, ``bit_or`` one ``1L << (pos & 63)``
  per 64-bit word ``pos >> 6``, and collect the at most m/64 words —
  bounded by construction. OR is commutative and associative, so
  partition count and row order cannot change the result. The driver
  packs the words little-endian into the ``bytes`` bitmap: bit ``pos``
  is byte ``pos >> 3``, bit ``pos & 7``;
- probe: the bitmap's words become one literal ``array<bigint>`` in the
  plan (a real multi-executor deploy ships it with the task like any
  literal), and membership is ``forall`` over the k positions — a
  map-side bit test; no shuffle, no join.

No reference analog — engine extension alongside the curation screens.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["bloom_parameters", "bloom_build", "bloom_probe"]

_H2_SEED = 1  # second base hash = xxhash64(value, lit(_H2_SEED))


def bloom_parameters(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Standard sizing: bits m = -n·ln(p)/ln(2)^2 (rounded up to a byte
    boundary), hashes k = (m/n)·ln(2). Returns (m_bits, k)."""
    n = max(n_items, 1)
    m = math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))
    m = ((m + 7) // 8) * 8
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _positions(col: Column, m_bits: int, k: int) -> Column:
    """array<bigint> of the k bit positions of ``col``'s value."""
    m = F.lit(m_bits).cast("long")
    a = F.pmod(F.xxhash64(col), m)
    b = F.pmod(F.xxhash64(col, F.lit(_H2_SEED)), m)
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)), lambda i: F.pmod(a + i * b, m)
    )


def _shift(name: str, word: Column, pos: Column) -> Column:
    """``word`` shifted by ``pos & 63`` bits (``F.shiftleft`` and
    ``F.shiftright`` take only an int shift, not a column)."""
    return F.call_function(name, word, pos.bitwiseAND(63).cast("int"))


def bloom_build(df: DataFrame, col: str, m_bits: int, k: int) -> bytes:
    """One pass over ``df[col]`` -> the filter's bitmap (m_bits/8 bytes).

    One ``bit_or`` per 64-bit word; the collect is bounded by
    construction at m_bits/64 rows.
    """
    assert m_bits % 8 == 0 and m_bits > 0, "m_bits must be a positive multiple of 8"
    pos = (
        df.where(F.col(col).isNotNull())
        .select(F.explode(_positions(F.col(col), m_bits, k)).alias("pos"))
    )
    words = pos.groupBy(F.shiftright("pos", 6).alias("w")).agg(
        F.bit_or(_shift("shiftleft", F.lit(1).cast("long"), F.col("pos"))).alias("bits")
    )
    out = bytearray((m_bits + 63) // 64 * 8)
    for row in words.collect():
        out[row["w"] * 8 : row["w"] * 8 + 8] = row["bits"].to_bytes(8, "little", signed=True)
    return bytes(out[: m_bits // 8])


def bloom_probe(
    df: DataFrame,
    col: str,
    bloom: bytes,
    k: int,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """Adds boolean ``out_col``: True iff all k bit positions of ``col``'s
    value are set (map-side, no shuffle). NULL values probe as False."""
    m_bits = len(bloom) * 8
    padded = bloom + bytes(-len(bloom) % 8)
    words = F.lit([
        int.from_bytes(padded[i : i + 8], "little", signed=True)
        for i in range(0, len(padded), 8)
    ]).cast("array<bigint>")
    hit = F.forall(
        _positions(F.col(col), m_bits, k),
        lambda p: _shift("shiftright", F.get(words, F.shiftright(p, 6).cast("int")), p)
        .bitwiseAND(1)
        == 1,
    )
    # xxhash64(NULL) is the hash of zero inputs (a constant), which could
    # spuriously probe True — gate NULL values expression-side instead.
    return df.withColumn(
        out_col, F.when(F.col(col).isNull(), F.lit(False)).otherwise(hit)
    )
