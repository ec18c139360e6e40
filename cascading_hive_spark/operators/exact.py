"""Exact decimal images of doubles, computed and summed in primitive longs.

The package's one way to build the exact decimal image of a double
``x`` at scale ``s``: the value of ``CAST(x AS DECIMAL(p, s))``, which
equals ``CAST(ROUND(x, s) AS DECIMAL(p, s))`` (both are the HALF_UP
rounding of ``Double.toString(x)`` at scale ``s``). Sums of images are
exact, so they are order-independent and a SQL oracle replays them.

Spark evaluates that cast through ``Double.toString`` and, above
precision 18, adds the images as BigDecimals. Here the image is a BIGINT
unscaled value computed from ``y = x * 10^s`` in double arithmetic
wherever that is provably the same integer, and a sum of images is two
BIGINT sums. The rule, its proof and its limits are in ARCHITECTURE.md
"Cross-engine determinism".

Every function returns Spark SQL text, so a call site builds its whole
expression with one ``F.expr`` (each chained ``F.*`` call costs the
driver py4j round trips to record its Python call site).
"""

from __future__ import annotations

# 2^-50: |y| * 2^-50 >= 4 ulp(y) > 1.5 ulp(y), the distance from y to toString(x) * 10^s
_MARGIN = "8.881784197001252E-16D"


def _fast(x: str, s: int, otherwise: str = "NULL") -> str:
    """BIGINT unscaled image of ``x`` on the fast path, ``otherwise``
    elsewhere (NULL, NaN, infinity, |y| >= 2^49, or y too close to a
    tie): y is rounded to the nearest integer when it is more than
    |y| * 2^-50 from every tie, so no tie lies between y and the image."""
    y = f"(({x}) * {10 ** s}D)" if s else f"CAST(({x}) AS DOUBLE)"
    return f"IF(abs({y} - rint({y})) + abs({y}) * {_MARGIN} < 0.5D, CAST(rint({y}) AS BIGINT), {otherwise})"


def image(x: str, s: int, p: int = 38, fallback: str | None = None) -> str:
    """BIGINT unscaled value of ``CAST(x AS DECIMAL(p, s))``.

    Rows off the fast path evaluate ``fallback``, by default that cast
    times 10^s as BIGINT: NULL, NaN and infinity give NULL, a value past
    DECIMAL(p, s) raises as the cast does, and an image past the BIGINT
    range raises. A site whose old expression treated those rows
    otherwise passes that expression instead."""
    if 10**p < 2**49:
        raise ValueError(f"precision {p} is below the fast path's range")
    if fallback is None:
        fallback = f"CAST(CAST({x} AS DECIMAL({p}, {s})) * {10 ** s}BD AS BIGINT)"
    return _fast(x, s, fallback)


def scaled(u: str, s: int, p: int = 38) -> str:
    """DECIMAL(p, s) value of the unscaled integer expression ``u``, for
    |u| < 10^(37-s) (any BIGINT at s <= 18); past that the cast raises.
    (37 - s, 0) * (s, s) is exactly (38, s): Spark's decimal multiply
    keeps every digit of scale only up to precision 38."""
    return f"CAST(CAST({u} AS DECIMAL({37 - s}, 0)) * 1E-{s}BD AS DECIMAL({p}, {s}))"


def exact_sum(x: str, s: int, p: int, over: str | None = None) -> str:
    """``sum(CAST(x AS DECIMAL(p, s)))`` with the same value, the same
    type DECIMAL(min(38, p + 10), s) and the same NULL for no input
    rows, as an aggregate or as a window function over the SQL window
    ``over`` (the text inside ``OVER (...)``).

    Images are summed as their high and low 32-bit halves in two BIGINT
    sums, which cannot overflow below 2^31 rows a group (past that they
    raise, never wrap), and recombined once per group, so a group sum
    past 2^63 unscaled keeps its value. Up to precision 18 every image
    fits a BIGINT; above it, rows off the fast path add
    ``CAST(x AS DECIMAL(p, s))`` to a decimal sum instead, which must
    stay below 10^(37-s) (one digit under the old sum's limit, because
    Spark's decimal add drops a digit of scale at a (38, s) operand)."""
    out_p = min(38, p + 10)
    w = f" OVER ({over})" if over else ""
    v = image(x, s, p) if p <= 18 else _fast(x, s)
    lo = f"sum(({v}) & 4294967295){w}"
    u = f"CAST(sum(shiftright({v}, 32)){w} AS DECIMAL(38, 0)) * 4294967296BD + {lo}"
    if p <= 18:
        if out_p + s <= 37:
            return scaled(u, s, out_p)
        # a sum that fits (out_p, s) may not fit scaled()'s (37 - s, 0)
        return f"CAST(CAST({u} AS STRING) || 'E-{s}' AS DECIMAL({out_p}, {s}))"
    rest = f"CAST(sum(IF(({v}) IS NULL, CAST({x} AS DECIMAL({p}, {s})), NULL)){w} AS DECIMAL(37, {s}))"
    both = f"{scaled(u, s, 37)} + coalesce({rest}, 0BD)"
    return f"CAST(IF({lo} IS NULL, {rest}, {both}) AS DECIMAL({out_p}, {s}))"
