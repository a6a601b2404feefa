from __future__ import annotations

from pyspark.sql import functions as F

from web_crawling_prj_spark.operators.bloom import build_sharded_bloom, might_contain
from web_crawling_prj_spark.operators.dedup import anti_join_seen, dedup_within_batch


def _frontier(spark, n=2000):
    return spark.range(n).select(
        F.xxhash64("id").alias("url_hash"),
        F.col("id").alias("doc"),
        (F.pmod(F.col("id") * 7, F.lit(100)) / 100.0).alias("priority"),
    )


def test_bloom_no_false_negatives(spark):
    seen = spark.range(0, 1000).select(F.xxhash64("id").alias("url_hash"))
    bloom = build_sharded_bloom(seen, num_shards=8, expected_per_shard=500, fpp=0.01)
    probed = (
        spark.range(0, 2000)
        .select(F.xxhash64("id").alias("url_hash"), (F.col("id") < 1000).alias("is_seen"))
        .withColumn("maybe", might_contain(bloom))
    )
    # every seen key must probe true (zero false negatives)
    assert probed.where(F.col("is_seen") & ~F.col("maybe")).count() == 0
    # false-positive rate on the unseen half should be near fpp (allow 5x slack)
    fp = probed.where(~F.col("is_seen") & F.col("maybe")).count()
    assert fp <= 1000 * 0.05, f"too many bloom false positives: {fp}"


def test_anti_join_matches_set_subtraction(spark):
    # reference semantics: all_keys - success_keys (wayfair_service.py:222-236)
    frontier = _frontier(spark, 2000)
    seen = spark.range(500, 1200).select(F.xxhash64("id").alias("url_hash"))
    expected = {r.url_hash for r in frontier.collect()} - {r.url_hash for r in seen.collect()}

    plain = anti_join_seen(frontier, seen)
    assert {r.url_hash for r in plain.collect()} == expected

    bloom = build_sharded_bloom(seen, num_shards=8, expected_per_shard=200, fpp=0.01)
    with_bloom = anti_join_seen(frontier, seen, bloom=bloom, spark=spark)
    assert {r.url_hash for r in with_bloom.collect()} == expected

    bcast = anti_join_seen(frontier, seen, broadcast_seen=True)
    assert {r.url_hash for r in bcast.collect()} == expected


def test_dedup_within_batch_keeps_best(spark):
    df = spark.createDataFrame(
        [(1, 0.2, "a"), (1, 0.9, "b"), (2, 0.5, "c"), (2, 0.5, "a")],
        "url_hash long, priority double, url string",
    )
    out = {r.url_hash: (r.priority, r.url) for r in dedup_within_batch(df).collect()}
    assert out[1] == (0.9, "b")  # highest priority wins
    assert out[2] == (0.5, "a")  # tie → lexicographically smallest remaining cols


def test_bloom_broadcast_lifecycle(spark):
    """Caller-owned broadcast: same results as the one-shot path, and after
    destroy() the executors really lose the bitmaps (reuse fails) — proving
    run_round's per-round destroy actually frees memory instead of leaking
    one bitmap per round."""
    from web_crawling_prj_spark.operators.bloom import broadcast_bloom, build_sharded_bloom

    frontier = _frontier(spark, 1000)
    seen = spark.range(0, 400).select(F.xxhash64("id").alias("url_hash"))
    expected = {r.url_hash for r in frontier.collect()} - {r.url_hash for r in seen.collect()}
    bloom = build_sharded_bloom(seen, num_shards=8, expected_per_shard=100, fpp=0.01)
    bcast = broadcast_bloom(spark, bloom)
    out = anti_join_seen(frontier, seen, bloom=bloom, bloom_bcast=bcast)
    assert {r.url_hash for r in out.collect()} == expected
    bcast.destroy()
    import pytest as _pytest

    with _pytest.raises(Exception):
        anti_join_seen(frontier, seen, bloom=bloom, bloom_bcast=bcast).collect()
