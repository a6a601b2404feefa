"""Adaptive recrawl laws: doubling on unchanged, reset on change, cap, and
partition-independence."""

from __future__ import annotations

import datetime as dt

from web_crawling_prj_spark.operators.recrawl import recrawl_schedule


def _hist(spark, fps, key="u"):
    t0 = dt.datetime(2026, 1, 1)
    rows = [(key, i, t0 + dt.timedelta(hours=i), fp) for i, fp in enumerate(fps)]
    return spark.createDataFrame(rows, "page string, seq int, ts timestamp, content_fp int")


def _sched(df, **kw):
    return recrawl_schedule(
        df, key="page", ts="ts", fingerprint="content_fp", tiebreak="seq", **kw
    )


def test_intervals_double_then_reset_then_cap(spark):
    # fp: change, same, same, CHANGE, same ×8 (cap at 2^6)
    fps = [1, 1, 1, 2] + [2] * 8
    out = _sched(_hist(spark, fps)).orderBy("seq").collect()
    assert [r["changed"] for r in out] == [True, False, False, True] + [False] * 8
    assert [r["unchanged_streak"] for r in out] == [0, 1, 2, 0, 1, 2, 3, 4, 5, 6, 7, 8]
    assert [r["interval_h"] for r in out] == [1.0, 2.0, 4.0, 1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0, 64.0, 64.0]
    # next_fetch_ts = ts + interval
    for r in out:
        assert (r["next_fetch_ts"] - r["ts"]).total_seconds() == r["interval_h"] * 3600


def test_schedule_is_partitioning_independent(spark):
    fps = [1, 2, 2, 3, 3, 3, 1]
    a = _sched(_hist(spark, fps)).orderBy("seq").collect()
    b = _sched(_hist(spark, fps).repartition(7)).orderBy("seq").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_schedule_is_one_shuffle(spark):
    plan = _sched(_hist(spark, [1, 1, 2]))._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # one window partitioning, reused
