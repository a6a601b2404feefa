"""Regression tests for the code-review findings (round 1 review pass)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from web_crawling_prj_spark.functions.urls import canonicalize_url
from web_crawling_prj_spark.operators.dedup import dedup_within_batch
from web_crawling_prj_spark.operators.retry import (
    classify_fetch_log,
    host_circuit_state,
    update_circuit_state,
)
from web_crawling_prj_spark.operators.scd2 import scd2_apply_batch


def test_canonicalize_percent_encoded_dot_segments():
    # %2E%2E decodes to '..' and must be resolved (idempotence)
    assert canonicalize_url("https://example.com/a/%2E%2E/b") == "https://example.com/b"
    c = canonicalize_url("https://example.com/a/%2e/b/%2E%2E/c")
    assert canonicalize_url(c) == c == "https://example.com/a/c"


def test_scd2_batch_dedup_deterministic(spark):
    batch = spark.createDataFrame(
        [("a", "Z", 9.0), ("a", "A", 1.0)], "sku string, title string, price double"
    )
    out1 = scd2_apply_batch(None, batch, ["sku"], ["sku", "title"], "s", "2025-01-01 00:00:00")
    out2 = scd2_apply_batch(
        None, batch.repartition(7), ["sku"], ["sku", "title"], "s", "2025-01-01 00:00:00"
    )
    assert out1.first().title == out2.first().title == "A"  # min-struct, not arrival order


def test_dedup_prefer_retry_state(spark):
    # same url_hash: a retry row (attempt 3, backoff set) vs fresh discovery
    rows = [
        (1, 3, 0.2, dt.datetime(2025, 6, 1, 0, 1, 0)),
        (1, 0, 0.9, None),
        (2, 0, 0.5, None),
    ]
    df = spark.createDataFrame(
        rows, "url_hash long, attempt int, priority double, next_eligible_ts timestamp"
    )
    out = {
        r.url_hash: (r.attempt, r.next_eligible_ts is not None)
        for r in dedup_within_batch(
            df,
            prefer=[
                -F.coalesce(F.col("attempt"), F.lit(0)),
                -F.coalesce(F.col("priority"), F.lit(0.0)),
            ],
        ).collect()
    }
    assert out[1] == (3, True)  # retry state survives rediscovery
    assert out[2] == (0, False)


def _log(spark, rows):
    df = spark.createDataFrame(
        rows, "host string, url_hash long, attempt int, http_code int, error_kind string, fetched_ts timestamp"
    )
    return classify_fetch_log(df)


def test_incremental_circuit_equals_full_recompute(spark):
    t0 = dt.datetime(2025, 6, 1)
    rounds = []
    # r1: host a 3 fails; host b ok
    rounds.append([("a", i, 1, 503, None, t0 + dt.timedelta(seconds=i)) for i in range(3)]
                  + [("b", 100, 1, 200, None, t0)])
    # r2: host a 8 more fails (streak 11 → opens); host b fail,ok,fail (streak 1)
    rounds.append([("a", 10 + i, 1, 503, None, t0 + dt.timedelta(seconds=60 + i)) for i in range(8)]
                  + [("b", 101, 1, 503, None, t0 + dt.timedelta(seconds=61)),
                     ("b", 102, 1, 200, None, t0 + dt.timedelta(seconds=62)),
                     ("b", 103, 1, 503, None, t0 + dt.timedelta(seconds=63))])
    # r3: host a recovers with an ok; host c appears failing
    rounds.append([("a", 30, 1, 200, None, t0 + dt.timedelta(seconds=200)),
                   ("c", 200, 1, 503, None, t0 + dt.timedelta(seconds=201))])

    state = None
    full = []
    for r in rounds:
        log = _log(spark, r)
        state = update_circuit_state(state, log)
        full.extend(r)
        inc = {
            row.host: (row.consecutive_failures, row.quarantined_until)
            for row in state.collect()
        }
        ref = {
            row.host: (row.consecutive_failures, row.quarantined_until)
            for row in host_circuit_state(_log(spark, full)).collect()
        }
        assert inc == ref, f"divergence after round with {len(r)} rows: {inc} != {ref}"
    assert inc["a"] == (0, None)  # recovered
    assert inc["c"][0] == 1


def test_full_rebuild_seeds_incremental_circuit(spark):
    """Recovery path: host_circuit_state output must be usable as `prev` for
    update_circuit_state (schema parity with CIRCUIT_STATE_SCHEMA)."""
    t0 = dt.datetime(2025, 6, 1)
    hist = _log(spark, [("a", i, 1, 503, None, t0 + dt.timedelta(seconds=i)) for i in range(11)])
    rebuilt = host_circuit_state(hist)
    assert set(rebuilt.columns) == {
        "host", "last_fetch_ts", "consecutive_failures", "last_fail_ts", "quarantined_until"
    }
    nxt = _log(spark, [("a", 99, 1, 200, None, t0 + dt.timedelta(seconds=100))])
    state = {r.host: r.consecutive_failures for r in update_circuit_state(rebuilt, nxt).collect()}
    assert state["a"] == 0  # the ok resets the rebuilt streak


def test_asof_duplicate_ts_right_rows_deterministic(spark):
    from web_crawling_prj_spark.operators.asof import asof_join_native, asof_join_pandas

    t = dt.datetime(2025, 1, 1, 10, 0, 0)
    left = spark.createDataFrame([(1, t, "e")], "user_id long, ts timestamp, ev string")
    right = spark.createDataFrame(
        [(1, t, 5.0), (1, t, 9.0), (1, t, 1.0)], "user_id long, rts timestamp, price double"
    )
    for reps in range(3):
        n = asof_join_native(left, right.repartition(reps + 1), "user_id", "ts", "rts", ["price"]).first()
        p = asof_join_pandas(left, right.repartition(reps + 1), "user_id", "ts", "rts", ["price"]).first()
        assert n.price == p.price == 9.0  # max payload wins, any partitioning


def test_components_nonconvergence_raises(spark):
    from web_crawling_prj_spark.operators.graph import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(8)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)
    comp = connected_components(chain, max_iter=20)
    assert comp.select("component").distinct().count() == 1


# --- round-3 self-review fixes ---


def test_png_path_is_backend_independent(spark):
    """DECODE_BACKEND='real' must NOT break PNG datasets (the stdlib path
    needs no missing dependency); non-PNG blobs under 'real' raise per blob."""
    import struct
    import zlib

    import pytest

    from web_crawling_prj_spark.functions.png import PNG_MAGIC
    from web_crawling_prj_spark.operators import multimodal as mm

    def chunk(t, p):
        return struct.pack(">I", len(p)) + t + p + struct.pack(">I", zlib.crc32(t + p) & 0xFFFFFFFF)

    # an 8x8 greyscale PNG cut after its header: all decode_metadata reads
    png = PNG_MAGIC + chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 0)) + chunk(b"IEND", b"")
    png_df = spark.createDataFrame([(0, bytearray(png))], "doc_id long, media binary")
    wcpm_df = spark.createDataFrame([(1, 0)], "doc_id long, mtype int").withColumn(
        "media", mm.synth_media_udf("doc_id", "mtype")
    ).drop("mtype")
    jpeg_df = spark.createDataFrame(
        [(2, bytearray(b"\xff\xd8\xff\xe0" + b"\x00" * 32))], "doc_id long, media binary"
    )
    junk_df = spark.createDataFrame(
        [(3, bytearray(b"not media at all, truly"))], "doc_id long, media binary"
    )
    old = mm.DECODE_BACKEND
    try:
        mm.DECODE_BACKEND = "real"
        rows = mm.decode_metadata(png_df).collect()
        assert rows[0].media_type == "image" and rows[0].width == 8
        # r3 ADVICE contract: classify the blob FIRST. WCPM is our own
        # self-describing format → parses under any backend; a structurally
        # plausible real container (JPEG magic) is the environment gap; junk
        # is a DATA error, never misreported as an environment gap.
        assert mm.decode_metadata(wcpm_df).collect()[0].media_type == "image"
        with pytest.raises(Exception, match="NotImplementedError|PIL"):
            mm.decode_metadata(jpeg_df).collect()
        with pytest.raises(Exception, match="ValueError|not a WCPM"):
            mm.decode_metadata(junk_df).collect()
    finally:
        mm.DECODE_BACKEND = old


@pytest.mark.parametrize("reader", ["read_parts", "read_all"])
def test_read_parts_raises_on_vacuumed_history(spark, tmp_path, reader):
    """Both readers must refuse to reconstruct a historical seen-set whose
    rounds were folded into a deeper tier and vacuumed — a silently
    incomplete seen-set would re-schedule fetched URLs."""
    from web_crawling_prj_spark.plans.statestore import StateStore

    store = StateStore(str(tmp_path / "hist"))
    for r in range(4):
        df = spark.range(5).selectExpr(f"id + {r * 10} as url_hash")
        store.commit_round(r, {"seen_delta": df})
    store.compact(spark, "seen_delta", up_to=3)
    store.vacuum_compacted("seen_delta")
    read = getattr(store, reader)
    with pytest.raises(ValueError, match="cannot reconstruct"):
        read(spark, "seen_delta", up_to=1)
    # at-or-past the tier: fine
    if reader == "read_parts":
        bases, deltas = read(spark, "seen_delta", up_to=3)
        assert sum(b.count() for b in bases) == 20 and deltas == []
    else:
        assert read(spark, "seen_delta", up_to=3).count() == 20


def test_round_reads_take_the_schema_from_the_manifest(spark, tmp_path):
    """Each round's manifest records its tables' schemas, so building a read
    of committed rounds infers nothing and starts no Spark job; a manifest
    with no schemas (written before they were recorded) still reads, by
    inference."""
    import json

    from web_crawling_prj_spark.plans.statestore import StateStore

    store = StateStore(str(tmp_path / "schemas"))
    for r in range(3):
        df = spark.range(5).selectExpr(f"id + {r * 10} AS url_hash", "CAST(id AS INT) AS n")
        store.commit_round(r, {"seen_delta": df})
    assert store.manifest(1)["schemas"] == {"seen_delta": "url_hash BIGINT,n INT"}

    def rows(read):
        return sorted(map(tuple, read.collect()))

    expect = {r: rows(store.read_round(spark, "seen_delta", r)) for r in range(3)}
    full = rows(store.read_all(spark, "seen_delta"))
    sc, group = spark.sparkContext, "statestore-schema-reads"
    sc.setJobGroup(group, "build reads of committed rounds")
    try:
        reads = [store.read_round(spark, "seen_delta", 1), store.read_all(spark, "seen_delta")]
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert rows(reads[0]) == expect[1] and rows(reads[1]) == full
    assert [f.nullable for f in reads[0].schema.fields] == [True, True]  # as inferred

    path = store._manifest_path(1)
    with open(path) as f:
        meta = json.load(f)
    del meta["schemas"]
    with open(path, "w") as f:
        json.dump(meta, f)
    assert rows(store.read_round(spark, "seen_delta", 1)) == expect[1]
    assert rows(store.read_all(spark, "seen_delta")) == full


def test_bucket_layout_drift_refused(spark, tmp_path):
    """Once a fold tier exists, resuming a bucketed store with a different
    num_buckets must fail loudly — mixed layouts would silently put the
    exchange back in every co-partitioned join."""
    from web_crawling_prj_spark.plans.crawl_round import CrawlConfig, crawl_store

    root = str(tmp_path / "drift")
    df = spark.range(10).selectExpr("xxhash64(id) as url_hash")
    store = crawl_store(root, CrawlConfig(num_buckets=8))
    store.commit_round(0, {"seen_delta": df.repartition(8, "url_hash")})
    assert store.compact(spark, "seen_delta") == 0

    resumed = crawl_store(root, CrawlConfig(num_buckets=16))
    with pytest.raises(ValueError, match="bucket layout cannot change"):
        resumed.commit_round(1, {"seen_delta": df.repartition(16, "url_hash")})
    with pytest.raises(ValueError, match="bucket layout cannot change"):
        resumed.compact(spark, "seen_delta")
    # same layout resumes fine
    ok = crawl_store(root, CrawlConfig(num_buckets=8))
    ok.commit_round(1, {"seen_delta": df.repartition(8, "url_hash")})
    assert ok.last_committed_round() == 1


def test_bucket_layout_free_until_first_fold(spark, tmp_path):
    """Before the first fold no layout is on disk: a writer with another
    spec commits fine, and its first fold records that writer's layout in
    the tier pointer — the only record of it (no registry file, no
    per-manifest copy)."""
    import os

    from web_crawling_prj_spark.plans.crawl_round import CrawlConfig, crawl_store

    root = str(tmp_path / "free")
    df = spark.range(10).selectExpr("xxhash64(id) as url_hash")
    store = crawl_store(root, CrawlConfig(num_buckets=8))
    store.commit_round(0, {"seen_delta": df.repartition(8, "url_hash")})
    first = crawl_store(root, CrawlConfig(num_buckets=16))  # no tier yet: accepted
    first.commit_round(1, {"seen_delta": df.repartition(16, "url_hash")})
    assert first.compact(spark, "seen_delta") == 1
    assert [(t["col"], t["n"]) for t in first.tiers("seen_delta")] == [("url_hash", 16)]
    assert not os.path.exists(os.path.join(root, "_manifests", "_layout.json"))
    assert all("bucketed" not in first.manifest(r) for r in (0, 1))


def test_bucket_layout_drift_refused_both_directions(spark, tmp_path):
    """Once a fold tier exists, dropping bucketing on resume (bucketed store
    → plain writer) must be refused just like changing the bucket count,
    and so must adding it (plain store → bucketed writer)."""
    from web_crawling_prj_spark.plans.crawl_round import CrawlConfig, crawl_store
    from web_crawling_prj_spark.plans.statestore import StateStore

    bkt = crawl_store(str(tmp_path / "dir2"), CrawlConfig(num_buckets=8))
    df = spark.range(10).selectExpr("xxhash64(id) as url_hash")
    bkt.commit_round(0, {"seen_delta": df.repartition(8, "url_hash")})
    bkt.compact(spark, "seen_delta")
    plain = StateStore(str(tmp_path / "dir2"))
    with pytest.raises(ValueError, match="bucket layout cannot change"):
        plain.commit_round(1, {"seen_delta": df})
    # and plain → bucketed is refused too
    p2 = StateStore(str(tmp_path / "dir3"))
    p2.commit_round(0, {"seen_delta": df})
    p2.compact(spark, "seen_delta")
    b2 = crawl_store(str(tmp_path / "dir3"), CrawlConfig(num_buckets=8))
    with pytest.raises(ValueError, match="bucket layout cannot change"):
        b2.commit_round(1, {"seen_delta": df.repartition(8, "url_hash")})
