"""Money semantics (SURVEY §1.2, §2.8 F1-F3).

The reference mixes three money treatments: Python ``round`` (banker's /
HALF_EVEN, src/data_processor.py:482-483), Spark ``F.round`` (HALF_UP,
:224-228) and ``F.format_number`` display strings with thousands
separators (:525,537). These helpers name each one so call sites state
which parity they need.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_half_even(c: Column, scale: int = 2) -> Column:
    """Parity with Python's built-in round() — Spark's bround is
    HALF_EVEN. Used for daily_summary totals (reference used Python
    round on driver-side floats)."""
    return F.bround(c, scale)


def format_money(c: Column, scale: int = 2) -> Column:
    """Display string with comma thousands separators — reference
    format_number(col, 2): 1234.5 → '1,234.50'. Output-only: never feed
    these strings back into arithmetic."""
    return F.format_number(c, scale)
