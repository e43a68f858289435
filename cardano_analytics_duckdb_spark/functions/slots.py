"""Cardano mainnet slot → POSIX milliseconds.

≙ slot_to_posix_ms_mainnet (token_fee_analysis.py:8-16): Byron slots last
20 s before slot 4,492,800, Shelley slots 1 s from there on.
``slot_posix_ms`` is the Spark Column form, ``slot_posix_ms_sql`` the DuckDB
text of the same piecewise formula (integer arithmetic, so both engines
agree exactly).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SHELLEY_SLOT = 4_492_800
_SHELLEY_MS = 1_596_059_091_000
_BYRON_MS = 1_506_203_091_000


def slot_posix_ms(slot: Column) -> Column:
    """POSIX milliseconds of the mainnet slot ``slot``."""
    return F.when(
        slot >= _SHELLEY_SLOT, F.lit(_SHELLEY_MS) + (slot - _SHELLEY_SLOT) * 1000
    ).otherwise(F.lit(_BYRON_MS) + slot * 20_000)


def slot_posix_ms_sql(expr: str) -> str:
    """The DuckDB-side rendering of :func:`slot_posix_ms`."""
    return (
        f"CASE WHEN ({expr}) >= {_SHELLEY_SLOT}"
        f" THEN {_SHELLEY_MS} + (({expr}) - {_SHELLEY_SLOT}) * 1000"
        f" ELSE {_BYRON_MS} + ({expr}) * 20000 END"
    )
