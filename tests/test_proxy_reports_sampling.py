from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from web_crawling_prj_spark.operators.sampling import (
    hash_sample,
    proportional_per_group,
    shuffled_limit,
    stratified_topk,
)
from web_crawling_prj_spark.plans.reports import (
    ReportJob,
    ReportServiceConfig,
    SyntheticReportService,
    run_report_pipeline,
)


def _no_sleep(_):
    pass


def test_report_pipeline_happy_path(spark):
    jobs = [ReportJob(f"r{i}", "daily") for i in range(4)]
    cfg = ReportServiceConfig(sleep=_no_sleep)
    df = run_report_pipeline(spark, jobs, SyntheticReportService(ready_after_polls=3), cfg)
    assert df.count() == 12
    assert all(j.status == "downloaded" and j.polls == 3 for j in jobs)


def test_report_pipeline_half_failure_abort(spark):
    jobs = [ReportJob(f"r{i}", "daily") for i in range(4)]
    svc = SyntheticReportService(fail_ids={"r0", "r1"})
    with pytest.raises(RuntimeError, match="2/4"):
        run_report_pipeline(spark, jobs, svc, ReportServiceConfig(sleep=_no_sleep))


def test_report_pipeline_poll_timeout(spark):
    jobs = [ReportJob("r0", "daily"), ReportJob("r1", "daily")]
    svc = SyntheticReportService(ready_after_polls=10**9)
    cfg = ReportServiceConfig(sleep=_no_sleep, poll_interval_s=10, max_wait_s=30)
    with pytest.raises(RuntimeError):
        run_report_pipeline(spark, jobs, svc, cfg)
    assert all(j.status == "failed" for j in jobs)


def test_hash_sample_stable_and_sized(spark):
    df = spark.range(10_000).select(F.col("id").alias("k"))
    s1 = {r.k for r in hash_sample(df, 0.1, "k").collect()}
    s2 = {r.k for r in hash_sample(df.repartition(7), 0.1, "k").collect()}
    assert s1 == s2  # partitioning-independent
    assert 800 < len(s1) < 1200


def test_shuffled_limit_deterministic(spark):
    df = spark.range(1000).select(F.col("id").alias("k"))
    a = [r.k for r in shuffled_limit(df, 20, "k").collect()]
    b = [r.k for r in shuffled_limit(df.repartition(5), 20, "k").collect()]
    assert a == b and len(a) == 20
    assert a != sorted(a)  # actually shuffled


def test_stratified_and_proportional(spark):
    df = spark.range(3000).select(
        (F.pmod("id", F.lit(3))).alias("g"), F.col("id").alias("k"), (F.col("id") % 100).alias("score")
    )
    top = stratified_topk(df, "g", 5, "score", "k")
    assert top.groupBy("g").count().where("count != 5").count() == 0
    prop = proportional_per_group(df, "g", 0.2, "k")
    counts = {r.g: r.n for r in prop.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert all(120 < n < 280 for n in counts.values())
