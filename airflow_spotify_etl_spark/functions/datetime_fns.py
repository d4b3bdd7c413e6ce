"""Date/time scalar expressions (SURVEY.md §2.2 P5; §7 hard-problem #3).

All pure Catalyst expressions — safe inside whole-stage codegen at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["lenient_to_date", "iso_date_prefix"]


def lenient_to_date(col: Column | str) -> Column:
    """Parse Spotify-style release dates that arrive as ``YYYY``, ``YYYY-MM``
    or ``YYYY-MM-DD`` (reference stores them raw, spotify_etl.py:249; the API
    contract allows all three precisions). Missing parts default to 01 —
    the standard release-date convention."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.rlike(r"^\d{4}$"), F.to_date(F.concat(c, F.lit("-01-01")))).when(
        c.rlike(r"^\d{4}-\d{2}$"), F.to_date(F.concat(c, F.lit("-01")))
    ).when(c.rlike(r"^\d{4}-\d{2}-\d{2}$"), F.to_date(c)).otherwise(F.lit(None))


def iso_date_prefix(col: Column | str) -> Column:
    """First 10 chars of an ISO timestamp string → date string (P5 — the
    reference's ``played_at[:10]``, spotify_etl2.py:170)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(c, 1, 10)
