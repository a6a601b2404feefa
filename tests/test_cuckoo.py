"""Sharded cuckoo filter — the cuckoo half of the north-star's
"partitioned cuckoo/bloom-filter URL-seen set".

Laws under test:
  1. Zero false negatives after a distributed build.
  2. False-positive rate stays near the design point (≈0.012% at b=4/f=16;
     asserted with generous slack).
  3. Exactness of anti_join_seen is independent of the filter (routing only).
  4. The built tables are deterministic under input partitioning.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from web_crawling_prj_spark.operators.cuckoo import (
    build_sharded_cuckoo,
    cuckoo_might_contain,
)
from web_crawling_prj_spark.operators.dedup import anti_join_seen


def _hashes(spark, lo, hi):
    return spark.range(lo, hi).select(F.xxhash64("id").alias("url_hash"))


def test_cuckoo_no_false_negatives_and_fp_rate(spark):
    seen = _hashes(spark, 0, 5000)
    ck = build_sharded_cuckoo(seen, num_shards=8, expected_per_shard=1000)
    probed = (
        spark.range(0, 20000)
        .select(F.xxhash64("id").alias("url_hash"), (F.col("id") < 5000).alias("is_seen"))
        .withColumn("maybe", cuckoo_might_contain(ck))
    )
    assert probed.where(F.col("is_seen") & ~F.col("maybe")).count() == 0
    # design fpp ≈ 8/2^16 ≈ 0.012%; allow a wide band (<=0.5%) on 15k unseen
    fp = probed.where(~F.col("is_seen") & F.col("maybe")).count()
    assert fp <= 15000 * 0.005, f"cuckoo false-positive rate too high: {fp}/15000"


def test_anti_join_with_cuckoo_probe_is_exact(spark):
    frontier = spark.range(2000).select(
        F.xxhash64("id").alias("url_hash"), F.col("id").alias("doc")
    )
    seen = _hashes(spark, 500, 1200)
    expected = {r.url_hash for r in frontier.collect()} - {
        r.url_hash for r in seen.collect()
    }
    ck = build_sharded_cuckoo(seen, num_shards=8, expected_per_shard=200)
    out = anti_join_seen(
        frontier, seen, probe_col=cuckoo_might_contain(ck, spark=spark)
    )
    assert {r.url_hash for r in out.collect()} == expected


def test_anti_join_rejects_bloom_plus_probe(spark):
    from web_crawling_prj_spark.operators.bloom import build_sharded_bloom

    frontier = spark.range(10).select(F.xxhash64("id").alias("url_hash"))
    seen = _hashes(spark, 0, 5)
    bloom = build_sharded_bloom(seen, num_shards=2, expected_per_shard=10, fpp=0.01)
    ck = build_sharded_cuckoo(seen, num_shards=2, expected_per_shard=10)
    with pytest.raises(ValueError):
        anti_join_seen(
            frontier, seen, bloom=bloom, probe_col=cuckoo_might_contain(ck), spark=spark
        )


def test_build_deterministic_and_serialization_roundtrip(spark):
    seen = _hashes(spark, 0, 3000)
    a = build_sharded_cuckoo(seen.repartition(1), num_shards=4, expected_per_shard=1000)
    b = build_sharded_cuckoo(seen.repartition(13), num_shards=4, expected_per_shard=1000)
    # partitioning-independent tables
    assert (a.num_shards, a.m_buckets) == (b.num_shards, b.m_buckets)
    assert np.array_equal(a.table, b.table) and np.array_equal(a.occ, b.occ)


def test_overfull_shard_raises(spark):
    seen = _hashes(spark, 0, 4000)
    with pytest.raises(Exception, match="overfull|exceed"):
        # 4000 keys into 4 shards sized for 64 slots each → must refuse loudly
        build_sharded_cuckoo(seen, num_shards=4, expected_per_shard=16)


def test_broadcast_lifecycle(spark):
    from web_crawling_prj_spark.operators.cuckoo import broadcast_cuckoo

    seen = _hashes(spark, 0, 1000)
    ck = build_sharded_cuckoo(seen, num_shards=4, expected_per_shard=500)
    bcast = broadcast_cuckoo(spark, ck)
    probed = seen.withColumn("maybe", cuckoo_might_contain(ck, bcast=bcast))
    assert probed.where(~F.col("maybe")).count() == 0
    bcast.destroy()
