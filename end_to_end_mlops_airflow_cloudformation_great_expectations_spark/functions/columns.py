"""Reusable column-expression builders (SURVEY.md §2.8).

Cross-cutting expression helpers shared by operators and queries —
each portable (same arithmetic expressible in plain SQL) so DuckDB
oracles can mirror them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Knuth's multiplicative-hash constant (2^32 / golden ratio).
KNUTH = 2654435761
M32 = 4294967296


def portable_bucket(key: Column, n_buckets: int) -> Column:
    """Engine-portable pseudo-random bucket in [0, n_buckets):
    multiplicative hashing with plain integer arithmetic — identical
    results in Spark, DuckDB, or any SQL engine (unlike engine hash
    functions). Used for splits (A7), fake-media dims, sampling.

    The multiplication is decomposed (hi/lo 16-bit halves of key mod
    2^32) so it never overflows a signed 64-bit long: the naive
    ``key * KNUTH`` throws ARITHMETIC_OVERFLOW under ANSI mode for
    keys ≥ ~3.5e9 — found by hypothesis, and exactly the key range a
    100 TB fact table reaches. Identical results mod 2^32, so small-key
    oracles (which may use the naive formula) are unaffected."""
    km = F.pmod(key.cast("long"), F.lit(M32))
    lo = F.pmod(km, F.lit(65536))
    # exact: (km - lo) is a multiple of 2^16 and fits double exactly
    hi = ((km - lo) / F.lit(65536)).cast("long")
    mixed = F.pmod(
        F.pmod(hi * F.lit(KNUTH), F.lit(M32)) * F.lit(65536) + lo * F.lit(KNUTH),
        F.lit(M32),
    )
    return F.pmod(mixed, F.lit(n_buckets))


def frac_hour(ts: Column) -> Column:
    """The reference's fractional hour-of-day feature (A5):
    h + m/60 + s/3600 (verified values like 18.9397 in train.parquet)."""
    return F.hour(ts) + F.minute(ts) / 60.0 + F.second(ts) / 3600.0


def weekday_name(ts: Column) -> Column:
    """Full weekday name — matches DuckDB ``dayname``."""
    return F.date_format(ts, "EEEE")


def tree_sum(cols: list[Column]) -> Column:
    """Sum many columns with a BALANCED expression tree.

    A naive ``reduce(add, cols)`` builds a left-nested chain whose
    depth equals the column count — at the reference's real width
    (384 one-hot columns) that throws StackOverflowError inside
    Catalyst's column-node conversion. Balancing keeps depth log2(n).
    """
    if not cols:
        raise ValueError("tree_sum of no columns")
    level = list(cols)
    while len(level) > 1:
        nxt = [
            level[i] + level[i + 1] if i + 1 < len(level) else level[i]
            for i in range(0, len(level), 2)
        ]
        level = nxt
    return level[0]


def zscore(value: Column, mean: Column, std: Column) -> Column:
    """(x - μ) / σ with NULL (not error/inf) for zero variance."""
    return F.try_divide(value - mean, std)


def zorder_key(a: Column, b: Column, bits: int = 16) -> Column:
    """Z-order (Morton) key: interleave the low ``bits`` bits of two
    non-negative integer columns into one sortable long — the
    data-layout trick behind multi-dimensional file pruning: sorting
    by the Z-key clusters rows that are close in BOTH dimensions into
    the same files, so parquet min/max stats prune scans filtered on
    either column (a plain sort only prunes its leading column).

    Pure bitwise expression (codegen, no UDF): bit i of ``a`` lands at
    position 2i, bit i of ``b`` at 2i+1. Callers should bucket real
    values into [0, 2^bits) — rank- or range-bucketing keeps the
    key distribution uniform under skew; inputs are CLAMPED to that
    range here (negatives → 0, ≥2^bits → 2^bits−1) so out-of-range
    values degrade to edge clustering instead of silently aliasing
    (arithmetic shiftright would drag sign bits into every position
    for negatives — ADVICE r02)."""

    def _clamp(c: Column) -> Column:
        hi = F.lit((1 << bits) - 1).cast("long")
        return F.greatest(F.lit(0).cast("long"), F.least(c.cast("long"), hi))

    a, b = _clamp(a), _clamp(b)
    key = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b, i).bitwiseAND(F.lit(1))
        key = (
            key.bitwiseOR(F.shiftleft(abit, 2 * i))
            .bitwiseOR(F.shiftleft(bbit, 2 * i + 1))
        )
    return key


def portable_arm(key: Column) -> Column:
    """Engine-portable pseudo-random BINARY assignment in {0, 1} that
    stays decorrelated across SHIFTED keys (key + stride·b) — the
    primitive permutation/randomization tests need.

    ``portable_bucket(key, 2)`` is NOT usable for that: the bucket is
    the low bit of a purely MULTIPLICATIVE map k·A mod 2^32, and
    multiplying by odd A preserves parity — so bucket(k, 2) ≡ k mod 2,
    and re-assignments drawn at stride offsets (k + s·b) are exact
    whole-cohort sign flips (found live: a permutation "null
    distribution" that was {±d_obs} with every |d_b| = |d_obs|).
    Power-of-two moduli of a linear map inherit the key's low-bit
    structure in general; non-power-of-two widths (splits, sampling,
    CMS cells) are unaffected.

    Fix: a MIDDLE-SQUARE round on top of the multiplicative mix —
    h = k·A mod 2^32, m = middle 32 bits of h², arm = bit 20 of m.
    The squaring is the portable nonlinearity (overflow-free via the
    same hi/lo 16-bit decomposition; every intermediate < 2^49), and
    bit 20 sits deep enough that carries have fully mixed. Measured
    on the fixture id range: 0 identical user patterns across 101
    stride draws, per-draw balance binomial, ~50% overlap between
    any two draws."""
    km = F.pmod(key.cast("long"), F.lit(M32))
    lo = F.pmod(km, F.lit(65536))
    hi = ((km - lo) / F.lit(65536)).cast("long")
    h1 = F.pmod(
        F.pmod(hi * F.lit(KNUTH), F.lit(M32)) * F.lit(65536)
        + lo * F.lit(KNUTH),
        F.lit(M32),
    )
    alo = F.pmod(h1, F.lit(65536))
    ahi = ((h1 - alo) / F.lit(65536)).cast("long")
    sq_lo = alo * alo
    m = F.pmod(
        ahi * ahi * F.lit(65536)
        + F.lit(2) * ahi * alo
        + ((sq_lo - F.pmod(sq_lo, F.lit(65536))) / F.lit(65536)).cast(
            "long"
        ),
        F.lit(M32),
    )
    return F.pmod(
        ((m - F.pmod(m, F.lit(1048576))) / F.lit(1048576)).cast("long"),
        F.lit(2),
    )
