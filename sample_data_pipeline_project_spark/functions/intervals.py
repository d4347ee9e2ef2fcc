"""Half-open interval predicates over `[start_ts, end_ts)` window columns.

The reference encodes time-series structure relationally as interval
columns and tests overlap with the classic half-open predicate
`a.start < b.end AND a.end > b.start` (reference: overlap_checks.py:59-60,
snowflake_tasks.py:546-547). An exactly-touching pair (a.end == b.start)
does NOT overlap. It always narrows the scan first with a sargable
day-granularity band filter (overlap_checks.py:52-53, intent documented at
17-18) — poor-man's partition pruning, which we keep: the day filter prunes
parquet partitions/row-groups before the non-sargable exact test runs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def overlaps(a_start: Column, a_end: Column, b_start: Column, b_end: Column) -> Column:
    """Half-open interval overlap (reference: overlap_checks.py:59-60)."""
    return (a_start < b_end) & (a_end > b_start)


def day_band(
    start_day: Column,
    end_day: Column,
    band_start_day: Column,
    band_end_day: Column,
) -> Column:
    """Coarse day-granularity pre-filter (reference: overlap_checks.py:52-53):
    keep rows whose [start_day, end_day] day-range intersects the band.
    Sargable — pushes to the parquet scan / prunes day partitions."""
    return (start_day <= band_end_day) & (end_day >= band_start_day)


def gap_after_previous(start_ts: Column, prev_end_ts: Column) -> Column:
    """Discontinuity test: a row starts somewhere other than where its
    predecessor ended (reference: snowflake_tasks.py:402-403). First row of
    a partition (no predecessor) is not a gap."""
    return prev_end_ts.isNotNull() & (start_ts != prev_end_ts)
