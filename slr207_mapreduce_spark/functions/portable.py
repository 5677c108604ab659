"""Engine-portable expressions — identical results in Spark and DuckDB.

Two problem classes the oracle harness must survive (SURVEY.md §7.3(2)):

1. **Float summation order.** ``SUM(double)`` is order-dependent; Spark's
   partial/final aggregation and DuckDB's single-threaded scan would drift in
   the last bits. Fix: cast to exact DECIMAL before aggregating, cast the
   exact result back to DOUBLE at the end. Both engines then produce the
   bit-identical IEEE value. (Testdata doubles carry <=2 decimal digits, so
   DECIMAL(12,2) casts are exact and unambiguous.)

2. **Large-decimal -> double casts.** Spark's DECIMAL->DOUBLE cast is
   correctly rounded (BigDecimal); DuckDB's is a TWO-step rounding
   (int128 -> double, then x 10^-scale), which drifts 1 ulp when the
   UNSCALED value exceeds 2^53. Rule: any checked decimal whose unscaled
   magnitude can pass 2^53 (scale-4+ product sums) must be FLOOR'd to an
   integer before the double cast on BOTH sides — floor is exact and
   identical in both engines (DuckDB scale-down CASTs truncate while
   Spark's round HALF_UP, so floor, not cast, is the portable bridge).
   See agg_exact_moments.

3. **Engine-specific hash functions.** Spark's xxhash64/hash and DuckDB's
   hash() are different algorithms, so any operator whose OUTPUT includes
   hash values (minhash signatures, simhash, fingerprints) must use a hash
   both engines compute identically: md5 (both expose it as a hex string),
   folded to a signed 64-bit int via the first 16 hex digits.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType


def dec(col: Column | str, precision: int = 12, scale: int = 2) -> Column:
    """Exact-decimal view of a (<=scale-digit) double column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DecimalType(precision, scale))


def dsum(col: Column | str, precision: int = 12, scale: int = 2) -> Column:
    """Order-independent sum of a double column: exact decimal sum -> double."""
    return F.sum(dec(col, precision, scale)).cast("double")


def davg(col: Column | str, precision: int = 12, scale: int = 2) -> Column:
    """Order-independent mean: exact decimal sum -> double, / count.
    One IEEE division on deterministic operands — bit-stable anywhere."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(c, precision, scale)).cast("double") / F.count(c).cast("double")


# SQL fragments for the DuckDB side of the same contracts ------------------

def dsum_sql(col: str, precision: int = 12, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL({precision},{scale}))) AS DOUBLE)"


def davg_sql(col: str, precision: int = 12, scale: int = 2) -> str:
    return (
        f"CAST(SUM(CAST({col} AS DECIMAL({precision},{scale}))) AS DOUBLE)"
        f" / CAST(COUNT({col}) AS DOUBLE)"
    )


def portable_hash64(col: Column, seed: int = 0) -> Column:
    """Deterministic signed-64-bit hash identical in Spark and DuckDB.

    md5 hex -> first 15 hex digits -> int. 15 digits (60 bits) keeps the
    value inside int64 without sign finagling in either engine. ``seed``
    varies the hash family (for minhash signatures) by prefixing the input.
    """
    payload = F.concat(F.lit(f"s{seed}|"), col)
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")


def portable_hash64_sql(expr: str, seed: int = 0) -> str:
    """DuckDB rendering of :func:`portable_hash64` (same bits)."""
    return f"CAST(('0x' || substring(md5('s{seed}|' || {expr}), 1, 15)) AS BIGINT)"


def portable_hash64_lane(col: Column, pair: int, lane: int) -> Column:
    """One of two independent 60-bit hashes carved from a single md5 digest.

    A digest has 32 hex chars; lane 0 reads chars 1-15, lane 1 reads 17-31 —
    disjoint bits, so the lanes behave as two hash functions for the price
    of one md5 evaluation. MinHash with k hashes therefore costs ceil(k/2)
    md5 calls per shingle instead of k — md5 is the critical-path cost of
    the signature pass (measured ~2x on the sf0.1 corpus).
    """
    payload = F.concat(F.lit(f"s{pair}|"), col)
    return F.conv(F.substring(F.md5(payload), 1 + 16 * lane, 15), 16, 10).cast("long")


def portable_hash64_lane_sql(expr: str, pair: int, lane: int) -> str:
    """DuckDB rendering of :func:`portable_hash64_lane` (same bits)."""
    return (
        f"CAST(('0x' || substring(md5('s{pair}|' || {expr}), {1 + 16 * lane}, 15))"
        " AS BIGINT)"
    )


# Count-min geometry shared by the batch events sketch
# (plans/events.py), the streaming counters (streaming/ops.py),
# and the stream==batch parity test — ONE definition so a one-sided
# change desyncs imports, not silently-matching stale literals
# (r11 ADVICE item 2).
COUNTMIN_SEED0 = 100
COUNTMIN_EVENTS_DEPTH = 3
COUNTMIN_EVENTS_WIDTH = 64


def countmin_hash_sql(
    key_expr: str, row_expr: str, width: int, seed0: int = COUNTMIN_SEED0
) -> str:
    """DuckDB bucket expression mirroring one :func:`countmin_hash_rows`
    entry: the portable md5 hash of ``key_expr`` under seed
    ``seed0 + row_expr`` (``row_expr`` is the SQL expression for the
    sketch row index, e.g. ``h.i``), mod ``width``. Dedicated helper so
    count-min oracles never have to splice a seed SQL fragment through
    :func:`portable_hash64_sql`'s int-typed ``seed`` (r11 ADVICE item 1
    — that splice relied on f-string internals and would silently corrupt
    the oracles if ``seed`` ever gained quoting/validation)."""
    return (
        f"(CAST(('0x' || substring(md5('s' || CAST({seed0} + {row_expr} AS VARCHAR)"
        f" || '|' || {key_expr}), 1, 15)) AS BIGINT) % {width})"
    )


def countmin_hash_rows(key: Column, depth: int, width: int, seed0: int) -> Column:
    """The count-min bucket array: ``array<struct<h: long, b: long>>`` with
    one entry per sketch row — ``h`` the row index, ``b`` the portable-md5
    bucket of ``key`` under seed ``seed0 + h``. ONE definition shared by
    the batch sketches (plans/text.py, plans/events.py), the streaming counters
    (streaming/ops.py), and the parity tests: stream==batch counter
    equality is load-bearing (pinned in tests/test_streaming.py), so the
    construction must not be able to drift between copies. The DuckDB
    side is ``portable_hash64_sql`` with the seed spelled as
    ``'s' || CAST(seed0 + h.i AS VARCHAR) || '|'`` over ``range(depth)``."""
    return F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("h"),
                (portable_hash64(key, seed=seed0 + i) % width).alias("b"),
            )
            for i in range(depth)
        ]
    )
