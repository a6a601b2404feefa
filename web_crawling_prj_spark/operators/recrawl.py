"""Adaptive recrawl scheduling — freshness-driven fetch intervals.

A crawl that can only re-fetch everything (the reference's ``mode='all'``) or
re-fetch failures (``mode='failed'``, dags/common/base_source_dag.py:93-104)
wastes its budget on pages that never change. The standard fix (public
knowledge: Cho & Garcia-Molina, "Synchronizing a database to improve
freshness", SIGMOD 2000; every production crawler since) is multiplicative
backoff on STALENESS: re-fetch interval doubles while content is unchanged,
resets when it changes.

Relational design, one shuffle total: everything is computed over a single
``Window.partitionBy(key).orderBy(ts, tiebreak)`` —

- ``changed``  : content fingerprint differs from the previous fetch's
  (first fetch counts as changed);
- ``streak``   : consecutive unchanged fetches ending here = ``row_number -
  running max(row_number where changed)`` — NO second window partitioning
  (a ``(key, change_group)`` window would re-shuffle);
- ``interval`` : ``base · 2^min(streak, max_doublings)`` hours;
- ``next_fetch_ts`` : this fetch's ts + interval.

Exactly SQL-expressible → value-exact DuckDB oracle (query
``recrawl_schedule``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def recrawl_schedule(
    history: DataFrame,
    key: str = "url_hash",
    ts: str = "fetched_ts",
    fingerprint: str | Column = "content_fp",
    tiebreak: str | None = None,
    base_interval_h: float = 1.0,
    max_doublings: int = 6,
) -> DataFrame:
    """Per-fetch adaptive schedule columns over a fetch history.

    Adds ``changed`` (bool), ``unchanged_streak`` (int), ``interval_h``
    (double) and ``next_fetch_ts`` (timestamp). Deterministic under any
    partitioning given a unique ``(key, ts, tiebreak)`` ordering."""
    fp = F.col(fingerprint) if isinstance(fingerprint, str) else fingerprint
    order = [F.col(ts)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_fp = F.lag(fp).over(w)
    changed = prev_fp.isNull() | (fp != prev_fp)
    rn = F.row_number().over(w)
    last_change_rn = F.max(F.when(changed, rn)).over(run)
    streak = rn - last_change_rn
    interval_h = F.lit(float(base_interval_h)) * F.pow(
        F.lit(2.0), F.least(streak, F.lit(max_doublings)).cast("double")
    )
    return history.withColumns(
        {
            "changed": changed,
            "unchanged_streak": streak,
            "interval_h": interval_h,
            "next_fetch_ts": F.col(ts) + F.make_interval(secs=interval_h * 3600),
        }
    )

