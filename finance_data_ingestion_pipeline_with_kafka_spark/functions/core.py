"""Scalar/aggregate helper functions (SURVEY §2.8 F1–F11).

All helpers are built-in-expression compositions — they stay JVM-side
inside whole-stage codegen; no Python UDFs in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Exact accumulator type for float aggregation. Summing doubles is
#: order-sensitive (distributed partial aggregation reorders adds); summing
#: fixed-point integers is exact and order-independent, so results
#: hash-match a single-threaded oracle. 6 fractional digits is far below
#: double ULP for the price-scale values in play.
DEC = "decimal(30,6)"

_SCALE = 1_000_000  # 6 fractional digits
_LIMB = 21  # limb width in bits


def dsum(col: Column | str) -> Column:
    """Order-independent, overflow-safe SUM over a double column → DOUBLE.

    Semantics mirror ``CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE)``
    (each value rounded half-up at 6 fractional digits, summed exactly):
    the oracle keeps that SQL.

    Implementation is split-radix integer accumulation, NOT a decimal-typed
    sum: Spark's decimal Sum pays a per-row BigDecimal conversion —
    measured 3× slower than a long sum on the sf0.1 lineitem scan — while
    a bare ``SUM(LONG)`` of scaled values silently wraps once |Σx| exceeds
    2^63/10^6 ≈ 9.2e12, which is inside the 100 TB regime (sum_charge at
    SF100 already overflows). So: round each value to a scaled int64,
    split it into three limbs (sign-extended high bits, then two
    ``_LIMB``-bit limbs), and sum each limb stream as a plain long —
    per-limb sums stay in range for up to 2^42 (~4×10^12) rows per group,
    comfortably beyond 100 TB row counts. The exact total is reassembled
    decimal-side on the one-row-per-group output, where BigDecimal cost is
    irrelevant. Integer addition is associative/commutative → bit-exact
    under any partitioning, and identical to the oracle's decimal sum.
    """
    c = F.col(col) if isinstance(col, str) else col
    # round-half-away-from-zero at 6 digits via pure double arithmetic —
    # ``F.round`` routes every row through BigDecimal (measured 2× the
    # whole aggregation's cost). Ties (x exactly ±…5e-7) only arise for
    # k/2^7-style doubles where x*1e6 is computed exactly, so this matches
    # the BigDecimal/oracle rounding on every representable input.
    x = c * _SCALE
    u = F.when(c >= 0, F.floor(x + 0.5)).otherwise(-F.floor(-x + 0.5)).cast("long")
    # u == hi·2^42 + mid·2^21 + lo for every long u, negatives included
    # (two's complement). Shifts and masks only: under ANSI mode long
    # ``-``/``*`` run overflow-checked (Math.*Exact) on every row.
    mask = F.lit((1 << _LIMB) - 1)
    hi = F.shiftright(u, 2 * _LIMB)  # arithmetic shift: floor division
    mid = F.shiftright(u, _LIMB).bitwiseAND(mask)
    lo = u.bitwiseAND(mask)
    total = (
        F.sum(hi).cast("decimal(38,0)") * (1 << (2 * _LIMB))
        + F.sum(mid).cast("decimal(38,0)") * (1 << _LIMB)
        + F.sum(lo).cast("decimal(38,0)")
    )
    return (total.cast("double") / _SCALE).cast("double")


def dsum_scaled(col: Column | str) -> Column:
    """Exact fixed-point SUM of a double column, returned as the
    ×10^6-SCALED integer total in DECIMAL(18,0) (i.e. ``dsum`` before the
    final unscale-to-double step).

    Oracle mirror::

        CAST(SUM(CAST(x AS DECIMAL(30,6))) * 1000000 AS DECIMAL(18,0))

    Use this instead of :func:`dsum` when the sum feeds FURTHER exact
    arithmetic (second-moment products, cross products): the scaled total
    is an exact integer in BOTH engines, so ``s*s`` / ``s*t`` lanes are
    pure decimal-integer multiplication with no double→decimal cast
    anywhere — the one-last-place cross-engine split class that bit the
    1e-6-grain moment snaps (ADVICE r13: at sf0.1 the xcorr ``x*x`` max
    ~1.2e7 left the 1e-6 grain only ~537 ULPs above the double) cannot
    occur at all. Downstream ratios that are scale-invariant (Pearson,
    cosine) need no unscaling; others divide ONCE at the end.

    Accumulation is a plain ``SUM(LONG)`` (not the limb split), so the
    binding per-group bound is the DECIMAL(18,0) return capacity:
    |Σx| < 10^18/10^6 = 10^12 unscaled (tighter than the 9.2e18 long
    wrap). That holds for time-bounded groups — an hour of 100 TB/yr
    tape is ~10^8 rows × ~10^2 magnitude = 10^10, 100× headroom;
    callers with unbounded groups must use :func:`dsum`'s limb split.
    Tests assert the fixture headroom (``test_xcorr_scaled_lane_headroom``).
    """
    c = F.col(col) if isinstance(col, str) else col
    x = c * _SCALE
    u = F.when(c >= 0, F.floor(x + 0.5)).otherwise(-F.floor(-x + 0.5)).cast("long")
    return F.sum(u).cast("decimal(18,0)")


def snap_scaled(col: Column | str, width: int = 12) -> Column:
    """One ×10^6 round-half-away-from-zero snap of a double to an exact
    DECIMAL(``width``,0) integer — the per-ROW atom of the
    :func:`dsum_scaled` discipline, for kernels whose integer lane is a
    single value (a return, a price change) rather than a group sum.
    Shares the rounding kernel with :func:`dsum` (see the tie caveat
    there); oracle mirror::

        CAST(CAST(x AS DECIMAL(30,6)) * 1000000 AS DECIMAL(width,0))
    """
    c = F.col(col) if isinstance(col, str) else col
    x = c * _SCALE
    return (
        F.when(c >= 0, F.floor(x + 0.5))
        .otherwise(-F.floor(-x + 0.5))
        .cast("long")
        .cast(f"decimal({width},0)")
    )


def dsum_scaled_expr(sql_expr: str) -> str:
    """The oracle-SQL text mirroring :func:`dsum_scaled` for ``sql_expr``."""
    return f"CAST(SUM(CAST(({sql_expr}) AS DECIMAL(30,6))) * 1000000 AS DECIMAL(18,0))"


def dsum_expr(sql_expr: str) -> str:
    """The oracle-SQL text mirroring :func:`dsum` for expression ``sql_expr``."""
    return f"CAST(SUM(CAST(({sql_expr}) AS DECIMAL(30,6))) AS DOUBLE)"


def davg(col: Column | str) -> Column:
    """Order-independent AVG: exact fixed-point sum divided by count, DOUBLE.

    Oracle mirror: ``CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / COUNT(x)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c) / F.count(c)


def deterministic_id(*cols: str, sep: str = "§") -> Column:
    """Deterministic surrogate key replacing the reference's ``uuid()``
    (``dags/ingestion_yfinance_data_to_cassandra_db.py:269``) so replayed
    micro-batches are idempotent (SURVEY §7.2)."""
    return F.sha2(F.concat_ws(sep, *[F.col(c).cast("string") for c in cols]), 256)


def epoch_millis_to_ts(col: Column | str) -> Column:
    """Epoch-milliseconds → TimestampType — the conversion the reference
    computes then accidentally drops (``dags/ingestion_finnhub_data_to_cassandra_db.py:252-259``,
    SURVEY §2.8 F1). We keep the converted column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_millis(c.cast("long"))


def log_return(price: Column | str, prev_price: Column | str) -> Column:
    """ln(p_t / p_{t-1}) — the standard finance return transform (F6)."""
    p = F.col(price) if isinstance(price, str) else price
    q = F.col(prev_price) if isinstance(prev_price, str) else prev_price
    return F.log(p / q)
