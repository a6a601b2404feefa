from __future__ import annotations

import json

from pyspark.sql import functions as F

from web_crawling_prj_spark.operators.bloom import (
    bloom_from_bytes,
    bloom_to_bytes,
    build_sharded_bloom,
    merge_blooms,
    might_contain,
)
from web_crawling_prj_spark.sources.readers import read


def test_bloom_roundtrip_and_merge(spark):
    a_keys = spark.range(0, 500).select(F.xxhash64("id").alias("url_hash"))
    b_keys = spark.range(500, 1000).select(F.xxhash64("id").alias("url_hash"))
    a = build_sharded_bloom(a_keys, num_shards=4, expected_per_shard=300, fpp=0.01)
    b = build_sharded_bloom(b_keys, num_shards=4, expected_per_shard=300, fpp=0.01)
    merged = merge_blooms(a, b)
    back = bloom_from_bytes(bloom_to_bytes(merged))
    probed = (
        spark.range(0, 1000)
        .select(F.xxhash64("id").alias("url_hash"))
        .withColumn("maybe", might_contain(back))
    )
    assert probed.where(~F.col("maybe")).count() == 0  # no false negatives after merge+serde


def test_json_dir_scan_with_file_key(spark, tmp_path):
    """S6: one-file-per-key directory scan; _metadata.file_path recovers the key
    (reference filename seen-set, services/wayfair_service.py:57-99)."""
    d = tmp_path / "perkey"
    d.mkdir()
    (d / "SKU1.json").write_text(json.dumps({"price": 9.5}))
    (d / "SKU2.json").write_text(json.dumps({"price": 7.0}))
    (d / "ignore.txt").write_text("junk")
    df = read(spark, "json", str(d), schema="price double", path_glob="*.json")
    out = df.select(
        F.regexp_extract(F.col("_metadata.file_path"), r"([^/]+)\.json$", 1).alias("sku"),
        "price",
    )
    got = {(r.sku, r.price) for r in out.collect()}
    assert got == {("SKU1", 9.5), ("SKU2", 7.0)}


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """S7/S13: real JDBC write+read round-trip against the Derby embedded
    database that ships with Spark — append mode really appends, the scan
    returns the written rows (reference data_reader.py:25 /
    data_loader.py:464-506)."""
    from web_crawling_prj_spark.sources.readers import _jdbc
    from web_crawling_prj_spark.sources.sinks import jdbc_append

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")
    jdbc_append(df, url, "t1", driver=drv)
    back = _jdbc(spark, url, table="t1", driver=drv)
    assert sorted(tuple(r) for r in back.collect()) == [(1, "a"), (2, "b")]
    jdbc_append(df, url, "t1", driver=drv)
    assert _jdbc(spark, url, table="t1", driver=drv).count() == 4
