"""Cross-engine deterministic rounding.

Spark's ``round()`` rounds the *shortest decimal rendering* of a double
(HALF_UP on ``BigDecimal.valueOf``), while DuckDB rounds the *binary* value,
so a true value of 4.475 (stored as 4.47499999999999964) rounds to 4.48 in
Spark but 4.47 in DuckDB — a hash-mismatch generator on any ``avg``/``sum``.

``rnd``/``rnd_sql`` sidestep engine semantics entirely: both engines compute
``floor(x * 10^n + 0.5) / 10^n`` with identical IEEE-754 double ops, so the
results are bit-identical by construction.

``rnd_expr``/``cent_sum_expr`` are the Spark SQL text of ``rnd``/``cent_sum``,
for expressions built as one string (``selectExpr``, ``F.expr``) instead of
one py4j call per Column operator.  Spark SQL reads an unsuffixed ``100.0``
as a DECIMAL, so their constants are double literals (``double_lit``:
``1000E-1D``, ``5E-1D``): that gives the same doubles as ``F.lit(100.0)``
and the same plan as the Column form.  Without the ``D`` the formula runs
in decimal arithmetic and can round differently.

Contract domain: bit-stability requires ``|x|·10ⁿ < 2^53`` (beyond that,
doubles can't represent consecutive integers and the engines' floor/division
orders can differ in the last ulp — property-tested at the boundary in
tests/test_properties.py).  Every rounded quantity in this engine is orders
of magnitude inside the domain; revisit if aggregating raw lovelace sums at
full-chain scale before dividing.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F


def double_lit(v: float) -> str:
    """``v`` as a SQL double literal with an integer mantissa (0.805831 →
    ``805831E-6D``, 1e-05 → ``1E-5D``), from its shortest ``repr``, so
    Spark reads back the same double with no cast to fold.  A literal
    with a decimal point runs a lexer predicate: 512 of them parsed in
    28 ms, 512 in this form in 8 ms."""
    sign, digits, exp = Decimal(repr(v)).as_tuple()
    return f"{'-' if sign else ''}{int(''.join(map(str, digits)))}E{exp}D"


def rnd(col: Column, n: int) -> Column:
    """Round half-up at n decimals, bit-identical across Spark and DuckDB."""
    scale = float(10**n)
    return F.floor(col * F.lit(scale) + F.lit(0.5)) / F.lit(scale)


def rnd_expr(expr: str, n: int) -> str:
    """Spark SQL text of :func:`rnd` over the SQL expression ``expr``."""
    scale = double_lit(float(10**n))
    return f"floor(({expr}) * {scale} + {double_lit(0.5)}) / {scale}"


def rnd_sql(expr: str, n: int) -> str:
    """The DuckDB-side rendering of the same rounding formula."""
    scale = float(10**n)
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


def cent_sum(col: Column) -> Column:
    """Order-independent 2-decimal sum: quantize each term to integer cents
    (bit-identical per row — same IEEE double ops in both engines), sum as
    exact int64, divide once at the end.

    ``rnd(F.sum(x), 2)`` is only reproducible up to the ulp of the float
    sum, which depends on partition/accumulation ORDER — fine within one
    engine, but Spark and DuckDB add in different orders, and with many
    output groups one of them eventually lands on a .005 rounding boundary
    (observed: nation_pair_volume at sf0.01, 285207.03 vs .04).  Integer
    summation is associative, so the result is independent of both engine
    and parallelism.  Domain: per-group cent totals < 2^53.
    """
    return (
        F.sum(F.floor(col * F.lit(100.0) + F.lit(0.5)).cast("long"))
        / F.lit(100.0)
    )


def cent_sum_expr(expr: str) -> str:
    """Spark SQL text of :func:`cent_sum` over the SQL expression ``expr``."""
    cents, half = double_lit(100.0), double_lit(0.5)
    return f"sum(CAST(floor(({expr}) * {cents} + {half}) AS BIGINT)) / {cents}"


def cent_sum_sql(expr: str) -> str:
    """DuckDB rendering of :func:`cent_sum`."""
    return f"sum(cast(floor(({expr}) * 100.0 + 0.5) AS BIGINT)) / 100.0"
