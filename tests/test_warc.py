"""WARC source (ISO 28500): byte-exact round-trip, adversarial payloads,
length-driven parsing (never delimiter splitting), malformed-stream errors,
and the binaryFile directory reader."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from web_crawling_prj_spark.sources.warc import (
    WARC_DATE,
    _parse_blob,
    parse_warc,
    read_warc_dir,
    warc_files_df,
    warc_record_col,
)

# payloads a delimiter-split parser gets wrong: a record trailer mid-payload,
# a full fake record header mid-payload, non-ASCII (bytes != chars), empty
ADVERSARIAL = [
    (0, "plain ascii payload"),
    (1, "contains the record trailer \r\n\r\n twice \r\n\r\n mid-payload"),
    (2, "WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 4\r\n\r\nfake\r\n\r\n"),
    (3, "héllo wörld — 日本語テキスト"),  # UTF-8 byte length > char length
    (4, ""),
]


def _encode(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uri = F.concat(F.lit("https://h.example/doc/"), F.col("doc_id"))
    return df.select("doc_id", warc_record_col(uri, F.col("text")).alias("record"))


def test_roundtrip_is_byte_exact_on_adversarial_payloads(spark):
    rec = _encode(spark, ADVERSARIAL)
    files = warc_files_df(
        rec, file_key=(F.col("doc_id") % 2), order_key=F.col("doc_id"), record=F.col("record")
    )
    out = {
        r["target_uri"]: r
        for r in parse_warc(files).collect()
    }
    assert len(out) == len(ADVERSARIAL)
    for doc_id, text in ADVERSARIAL:
        r = out[f"https://h.example/doc/{doc_id}"]
        assert r["payload"] == text  # byte-exact through encode→pack→parse
        assert r["content_length"] == len(text.encode("utf-8"))
        assert r["rec_type"] == "resource"
        assert r["warc_date"] == WARC_DATE
        assert r["warc_file"] == doc_id % 2


def test_rec_seq_is_in_file_order_under_any_partitioning(spark):
    rows = [(i, f"payload {i}") for i in range(20)]
    rec = _encode(spark, rows).repartition(7)  # scramble
    files = warc_files_df(
        rec, file_key=(F.col("doc_id") % 3), order_key=F.col("doc_id"), record=F.col("record")
    )
    got = parse_warc(files).select("warc_file", "rec_seq", "target_uri").collect()
    for r in got:
        doc_id = int(r["target_uri"].rsplit("/", 1)[1])
        expect_seq = sorted(i for i in range(20) if i % 3 == r["warc_file"]).index(doc_id)
        assert r["rec_seq"] == expect_seq


@pytest.mark.parametrize(
    "blob, msg",
    [
        (b"WARC/2.0\r\n\r\n\r\n", "bad record magic"),
        (b"WARC/1.0\r\nWARC-Type: resource\r\n", "unterminated header"),
        (b"WARC/1.0\r\nWARC-Type: resource\r\n\r\nno length", "lacks Content-Length"),
        (b"WARC/1.0\r\nContent-Length: 100\r\n\r\nshort\r\n\r\n", "truncated payload"),
        # payload present but the two-CRLF record trailer is missing
        (b"WARC/1.0\r\nContent-Length: 2\r\n\r\nab", "truncated payload"),
    ],
)
def test_malformed_streams_raise_not_partial_rows(blob, msg):
    with pytest.raises(ValueError, match=msg):
        list(_parse_blob(9, blob))


def test_read_warc_dir_parses_real_files(spark, tmp_path):
    # hand-assembled spec-shaped file, written as real bytes on disk
    payload = "doc body — ünïcode"
    body = payload.encode("utf-8")
    raw = (
        b"WARC/1.0\r\n"
        b"WARC-Type: resource\r\n"
        b"WARC-Target-URI: https://x.example/1\r\n"
        b"WARC-Date: " + WARC_DATE.encode() + b"\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n"
        b"\r\n" + body + b"\r\n\r\n"
    ) * 3
    (tmp_path / "a.warc").write_bytes(raw)
    (tmp_path / "ignored.txt").write_bytes(b"not a warc")
    out = read_warc_dir(spark, str(tmp_path)).collect()
    assert len(out) == 3
    assert [r["rec_seq"] for r in sorted(out, key=lambda r: r["rec_seq"])] == [0, 1, 2]
    assert all(r["payload"] == payload for r in out)
    assert all(r["target_uri"] == "https://x.example/1" for r in out)


def _pages(spark, n=40):
    from web_crawling_prj_spark.sources.pages_gen import pages_df

    # orderBy before limit: a bare limit() on a multi-partition frame picks
    # an unspecified n rows PER EVALUATION — this fixture is consumed by two
    # separate subplans (archive + join-back), which must see the SAME slice.
    # (Only ever deterministic before because the 1-split scan had one
    # partition; pages_df now spreads narrow scans.)
    return pages_df(spark, "/root/testdata/sf0.001").orderBy("url").limit(n)


def test_pages_from_warc_reproduces_input_hint_table_byte_exactly(spark, tmp_path):
    """Archive a page slice as WARC response records (HTTP envelope), then
    re-ingest: the pages table comes back in the input-hint shape with
    byte-identical text, second-truncated warc_ts, and re-detected lang —
    through exactly ONE Arrow UDF evaluation."""
    from web_crawling_prj_spark.sources.warc import (
        http_response_payload,
        pages_from_warc,
        write_warc_files,
    )

    p = _pages(spark)
    rec = p.select(
        F.pmod(F.xxhash64("url"), F.lit(3)).alias("warc_file"),
        F.xxhash64("url").alias("k"),
        warc_record_col(
            F.col("url"),
            http_response_payload(F.decode("html", "UTF-8"), F.lit(200)),
            rec_type="response",
            date=F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        ).alias("record"),
    )
    files = warc_files_df(rec, F.col("warc_file"), F.col("k"), F.col("record"))
    man = write_warc_files(files, str(tmp_path / "w"))
    assert len(man) == 3 and all(m["bytes"] > 0 for m in man)

    back = pages_from_warc(read_warc_dir(spark, str(tmp_path / "w")))
    assert back.schema.simpleString() == (
        "struct<url:string,warc_ts:timestamp,html:binary,text:string,lang:string>"
    )
    orig = p.select("url", F.col("text").alias("t0"), F.col("warc_ts").alias("ts0"))
    j = back.join(orig, "url")
    assert j.count() == 40
    assert j.where(F.col("text") != F.col("t0")).count() == 0  # byte-identical
    assert j.where(F.col("warc_ts") != F.date_trunc("second", "ts0")).count() == 0
    assert back.where(F.col("lang").isNull()).count() == 0
    # lang/text share ONE extraction — a duplicated UDF subtree would 6× the
    # Python cost at 100 TB
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1


def test_http_envelope_strip_survives_crlfcrlf_in_body(spark, tmp_path):
    """A body containing CRLFCRLF must not be truncated by the envelope
    strip (split limit 2) — the delimiter-confusion trap, HTTP edition."""
    from web_crawling_prj_spark.sources.warc import (
        http_response_payload,
        pages_from_warc,
        write_warc_files,
    )

    body = "first\r\n\r\nsecond — looks like an envelope boundary"
    df = spark.createDataFrame([("https://x.example/1", body)], "url string, body string")
    rec = df.select(
        F.lit(0).alias("warc_file"),
        F.lit(0).alias("k"),
        warc_record_col(
            F.col("url"), http_response_payload(F.col("body")), rec_type="response"
        ).alias("record"),
    )
    files = warc_files_df(rec, F.col("warc_file"), F.col("k"), F.col("record"))
    write_warc_files(files, str(tmp_path / "w"))
    back = pages_from_warc(read_warc_dir(spark, str(tmp_path / "w"))).collect()
    assert len(back) == 1
    assert bytes(back[0]["html"]).decode("utf-8") == body


def test_crawl_archives_rounds_and_resume_backfills(spark, tmp_path):
    """run_crawl(warc_dir=...): every committed round exports its ok fetches
    as WARC response records; record count matches the committed ok count;
    extraction over the ARCHIVED html is byte-identical to the committed
    extracted_text (the north-rule invariant survives the archive cycle);
    and a missing archive (kill between commit and archive) is rebuilt by
    the resume catch-up sweep."""
    import shutil

    from web_crawling_prj_spark.plans.crawl_round import (
        CrawlConfig,
        crawl_store,
        run_crawl,
    )
    from web_crawling_prj_spark.sources.pages_gen import pages_df, robots_df, seeds_df
    from web_crawling_prj_spark.sources.warc import pages_from_warc

    sf = "/root/testdata/sf0.001"
    pages, seeds, robots = pages_df(spark, sf), seeds_df(spark, sf), robots_df(spark)
    warc_dir = str(tmp_path / "warc")
    cfg = CrawlConfig(num_buckets=4, warc_dir=warc_dir)
    store = crawl_store(str(tmp_path / "store"), cfg)
    stats = run_crawl(spark, store, pages, robots, seeds, rounds=2, cfg=cfg)
    assert sorted(os.listdir(warc_dir)) == ["round=000001", "round=000002"]

    parsed = read_warc_dir(spark, warc_dir)
    assert parsed.count() == sum(t["ok"] for t in stats)
    back = pages_from_warc(parsed).select(
        F.col("url").alias("url_canon"), F.col("text").alias("t_arc")
    )
    committed = (
        store.read_all(spark, "fetch_log")
        .where(F.col("error_class") == "ok")
        .select("url_canon", "extracted_text")
    )
    j = committed.join(back, "url_canon")
    assert j.count() == sum(t["ok"] for t in stats)
    assert j.where(F.col("t_arc") != F.col("extracted_text")).count() == 0

    # kill-between-commit-and-archive: drop round 1's archive, resume → the
    # catch-up sweep rebuilds it before new rounds run
    shutil.rmtree(os.path.join(warc_dir, "round=000001"))
    run_crawl(spark, store, pages, robots, seeds, rounds=3, cfg=cfg)
    assert sorted(os.listdir(warc_dir)) == [
        "round=000001",
        "round=000002",
        "round=000003",
    ]
    assert os.path.exists(os.path.join(warc_dir, "round=000001", "_SUCCESS"))
    # the rebuilt archive is identical (pure function of committed state)
    r1 = read_warc_dir(spark, os.path.join(warc_dir, "round=000001"))
    ok1 = (
        store.read_round(spark, "fetch_log", 1).where(F.col("error_class") == "ok").count()
    )
    assert r1.count() == ok1


def test_member_gzip_layout_is_one_member_per_record_and_deterministic(spark, tmp_path):
    """Common Crawl's .warc.gz contract: each record is an INDEPENDENT gzip
    member (what makes archives range-splittable at member boundaries),
    compression is byte-deterministic (mtime=0) under any input
    partitioning, and the directory reader decompresses transparently."""
    import zlib

    from web_crawling_prj_spark.sources.warc import warc_gz_files_df, write_warc_files

    rec = _encode(spark, [(i, f"body {i} — ü{i}") for i in range(10)]).repartition(5)
    files = warc_gz_files_df(rec, F.col("doc_id") % 2, F.col("doc_id"), F.col("record"))
    man = write_warc_files(files, str(tmp_path / "a"), suffix=".warc.gz")
    assert sorted(os.path.basename(m["path"]) for m in man) == [
        "part-000000.warc.gz",
        "part-000001.warc.gz",
    ]
    raw = (tmp_path / "a" / "part-000000.warc.gz").read_bytes()
    members, off = 0, 0
    while off < len(raw):
        d = zlib.decompressobj(wbits=31)
        body = d.decompress(raw[off:])
        assert body.startswith(b"WARC/1.0\r\n") and body.endswith(b"\r\n\r\n")
        members += 1
        off = len(raw) - len(d.unused_data)
    assert members == 5  # one member per record, not one stream per file

    # byte-determinism across partitionings
    files2 = warc_gz_files_df(
        rec.repartition(3), F.col("doc_id") % 2, F.col("doc_id"), F.col("record")
    )
    man2 = write_warc_files(files2, str(tmp_path / "b"), suffix=".warc.gz")
    for m1, m2 in zip(sorted(man, key=lambda m: m["warc_file"]),
                      sorted(man2, key=lambda m: m["warc_file"])):
        assert open(m1["path"], "rb").read() == open(m2["path"], "rb").read()

    # transparent read: same rows as the uncompressed path
    out = read_warc_dir(spark, str(tmp_path / "a")).collect()
    assert len(out) == 10
    assert sorted(r["payload"] for r in out) == sorted(f"body {i} — ü{i}" for i in range(10))


def test_cdx_index_gives_random_access_to_every_record(spark, tmp_path):
    """The archive's CDX sidecar (Common Crawl index contract): every
    (uri, offset, length) row fetches exactly its record via a ranged read
    + single-member gunzip — no file scan — and the fetched payload matches
    the full-parse result byte-for-byte."""
    from web_crawling_prj_spark.plans.crawl_round import (
        CrawlConfig,
        crawl_store,
        run_crawl,
    )
    from web_crawling_prj_spark.sources.pages_gen import pages_df, robots_df, seeds_df
    from web_crawling_prj_spark.sources.warc import fetch_warc_record

    sf = "/root/testdata/sf0.001"
    pages, seeds, robots = pages_df(spark, sf), seeds_df(spark, sf), robots_df(spark)
    warc_dir = str(tmp_path / "warc")
    cfg = CrawlConfig(num_buckets=4, warc_dir=warc_dir)
    store = crawl_store(str(tmp_path / "store"), cfg)
    run_crawl(spark, store, pages, robots, seeds, rounds=1, cfg=cfg)

    cdx = spark.read.parquet(os.path.join(warc_dir, "round=000001", "_cdx")).collect()
    full = {
        r["target_uri"]: r["payload"]
        for r in read_warc_dir(spark, os.path.join(warc_dir, "round=000001")).collect()
    }
    assert len(cdx) == len(full) > 0
    for row in cdx:
        rec = fetch_warc_record(row["path"], row["offset"], row["length"])
        seq, rec_type, uri, date, clen, payload = rec
        assert uri == row["uri"]
        assert payload == full[uri]
    # offsets tile the file exactly: sum of lengths per path == file size
    by_path: dict[str, int] = {}
    for row in cdx:
        by_path[row["path"]] = by_path.get(row["path"], 0) + row["length"]
    for path, total in by_path.items():
        assert os.path.getsize(path) == total


def test_wet_export_is_the_byte_exact_extracted_text(spark, tmp_path):
    """WET sibling archive: one conversion record per ok fetch, payload
    byte-identical to the committed extracted_text, no page-store join."""
    from web_crawling_prj_spark.plans.crawl_round import (
        CrawlConfig,
        crawl_store,
        run_crawl,
    )
    from web_crawling_prj_spark.sources.pages_gen import pages_df, robots_df, seeds_df
    from web_crawling_prj_spark.sources.warc import wet_round

    sf = "/root/testdata/sf0.001"
    pages, seeds, robots = pages_df(spark, sf), seeds_df(spark, sf), robots_df(spark)
    cfg = CrawlConfig(num_buckets=4)
    store = crawl_store(str(tmp_path / "store"), cfg)
    stats = run_crawl(spark, store, pages, robots, seeds, rounds=1, cfg=cfg)

    man = wet_round(spark, store, 1, str(tmp_path / "wet"), num_files=4)
    assert all(m["path"].endswith(".warc.wet.gz") for m in man)
    wet = read_warc_dir(spark, str(tmp_path / "wet")).collect()
    assert len(wet) == stats[0]["ok"]
    assert all(r["rec_type"] == "conversion" for r in wet)
    committed = {
        r["url_canon"]: r["extracted_text"]
        for r in store.read_round(spark, "fetch_log", 1)
        .where(F.col("error_class") == "ok")
        .collect()
    }
    for r in wet:
        assert r["payload"] == (committed[r["target_uri"]] or "")


def test_wat_export_metadata_matches_committed_state(spark, tmp_path):
    """WAT sibling archive: one metadata record per ok fetch whose JSON
    payload reproduces the committed crawl facts — text md5 and the outlink
    list identical to what the crawl's own discovery stage derives."""
    from web_crawling_prj_spark.operators.fetch import discover_outlinks
    from web_crawling_prj_spark.plans.crawl_round import (
        CrawlConfig,
        crawl_store,
        run_crawl,
    )
    from web_crawling_prj_spark.sources.pages_gen import pages_df, robots_df, seeds_df
    from web_crawling_prj_spark.sources.warc import wat_round

    sf = "/root/testdata/sf0.001"
    pages, seeds, robots = pages_df(spark, sf), seeds_df(spark, sf), robots_df(spark)
    cfg = CrawlConfig(num_buckets=4)
    store = crawl_store(str(tmp_path / "store"), cfg)
    stats = run_crawl(spark, store, pages, robots, seeds, rounds=1, cfg=cfg)

    man = wat_round(spark, store, 1, str(tmp_path / "wat"), num_files=4)
    assert all(m["path"].endswith(".warc.wat.gz") for m in man)
    parsed = read_warc_dir(spark, str(tmp_path / "wat"))
    wat = parsed.select(
        "target_uri",
        F.from_json(
            "payload",
            "url string, http_code int, fetched string, text_md5 string, "
            "text_chars long, outlinks array<string>",
        ).alias("m"),
    ).collect()
    assert len(wat) == stats[0]["ok"]

    ok = store.read_round(spark, "fetch_log", 1).where(F.col("error_class") == "ok")
    want_md5 = {
        r["url_canon"]: r["md5"]
        for r in ok.select(
            "url_canon", F.md5(F.coalesce("extracted_text", F.lit(""))).alias("md5")
        ).collect()
    }
    want_links: dict[str, set] = {}
    for r in discover_outlinks(ok).select("src_url_hash", "url_canon").join(
        ok.select(F.col("url_hash").alias("src_url_hash"), F.col("url_canon").alias("src")),
        "src_url_hash",
    ).collect():
        want_links.setdefault(r["src"], set()).add(r["url_canon"])
    for r in wat:
        m = r["m"]
        assert m["url"] == r["target_uri"]
        assert m["text_md5"] == want_md5[m["url"]]
        assert set(m["outlinks"]) == want_links.get(m["url"], set())


def test_torn_gz_archive_raises_not_truncates(spark, tmp_path):
    from web_crawling_prj_spark.sources.warc import warc_gz_files_df, write_warc_files

    rec = _encode(spark, [(0, "x"), (1, "y")])
    files = warc_gz_files_df(rec, F.lit(0), F.col("doc_id"), F.col("record"))
    man = write_warc_files(files, str(tmp_path), suffix=".warc.gz")
    raw = open(man[0]["path"], "rb").read()
    open(man[0]["path"], "wb").write(raw[:-7])  # tear the last member
    with pytest.raises(Exception):  # EOFError/error surfaces through the task
        read_warc_dir(spark, str(tmp_path)).collect()


def test_parser_is_a_narrow_transform(spark):
    """Files never shuffle on the parse path: the plan between the scan and
    the Arrow eval has no Exchange (file-per-task at a directory scan)."""
    rec = _encode(spark, [(i, "x") for i in range(4)])
    files = warc_files_df(
        rec, file_key=F.col("doc_id"), order_key=F.col("doc_id"), record=F.col("record")
    )
    plan = parse_warc(files)._sc._jvm.PythonSQLUtils.explainString(
        parse_warc(files)._jdf.queryExecution(), "formatted"
    ) if False else parse_warc(files)._jdf.queryExecution().executedPlan().toString()
    # one exchange total (the pack groupBy) — none introduced by parse_warc
    assert plan.count("Exchange") <= 1


def test_read_warc_splits_row_identical_and_parallel(spark, tmp_path):
    """CDX-driven splittable scan: one big .warc.gz parallelizes across
    byte-range splits, and the records are ROW-IDENTICAL (including the
    file-global rec_seq) to the whole-file scan."""
    from web_crawling_prj_spark.sources.warc import (
        read_warc_splits,
        warc_gz_files_df,
        write_warc_files,
    )

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.format_string("https://s.example/doc/%d", "id").alias("uri"),
        F.format_string("payload body %d", "id").alias("body"),
    )
    rec = docs.select(
        (F.col("doc_id") % 2).alias("warc_file"),
        F.col("doc_id").alias("k"),
        F.col("uri"),
        warc_record_col(F.col("uri"), F.col("body")).alias("record"),
    )
    files = warc_gz_files_df(
        rec, file_key=F.col("warc_file"), order_key=F.col("k"),
        record=F.col("record"), uri=F.col("uri"),
    ).persist()
    out = str(tmp_path / "arch")
    write_warc_files(files.select("warc_file", "blob"), out, suffix=".warc.gz")
    cdx = files.select("warc_file", F.explode("cdx").alias("c")).select(
        F.concat(
            F.lit(out + "/part-"), F.format_string("%06d", "warc_file"), F.lit(".warc.gz")
        ).alias("path"),
        F.col("c.uri").alias("uri"),
        F.col("c.offset").alias("offset"),
        F.col("c.length").alias("length"),
    ).persist()

    whole = read_warc_dir(spark, out)
    split = read_warc_splits(spark, cdx, records_per_split=8)
    cols = ["warc_file", "rec_seq", "rec_type", "target_uri", "warc_date",
            "content_length", "payload"]
    assert split.select(cols).exceptAll(whole.select(cols)).count() == 0
    assert whole.select(cols).exceptAll(split.select(cols)).count() == 0
    # 2 files × 50 records at 8/split → 14 splits: one archive, many tasks
    from pyspark.sql import Window as W

    n_splits = (
        cdx.withColumn("_i", F.row_number().over(W.partitionBy("path").orderBy("offset")) - 1)
        .select("path", F.floor(F.col("_i") / 8).alias("s")).distinct().count()
    )
    assert n_splits > cdx.select("path").distinct().count()
    files.unpersist()
    cdx.unpersist()


