"""Single crawl-round stages on small hand-built frames, no crawl.

The whole-crawl tests (tests/test_crawl_round.py) reach these rules only
through many rounds; here each rule is one stage call with rows built to
break it."""

from __future__ import annotations

import datetime as dt

from web_crawling_prj_spark.plans.crawl_round import (
    FRONTIER_COLS,
    FRONTIER_SCHEMA,
    CrawlConfig,
    _circuit_breaker,
    _decode_url,
    _encode_url,
    _winners,
    crawl_store,
)

ROBOTS_SCHEMA = "host string, disallow_prefixes array<string>, crawl_delay_ms int"
ROUND_TS = "2025-06-01 00:10:00"
NOW = dt.datetime(2025, 6, 1, 0, 10)
PAST, FUTURE = NOW - dt.timedelta(days=1), NOW + dt.timedelta(days=1)


def _row(key: int, host: str, path: str, priority: float, attempt: int, next_ts=None):
    url = f"http://{host}{path}"
    return (url, url, key, host, priority, 1, None, None, attempt, next_ts)


def test_winners_keep_incumbents_by_the_round_rules(spark):
    live = [
        _row(1, "a.example", "/backing-off", 0.1, 2, FUTURE),
        _row(2, "b.example", "/private/x", 0.1, 1, PAST),  # eligible, disallowed
        _row(3, "a.example", "/scheduled", 0.1, 1),  # scheduled this round
        _row(4, "a.example", "/no-candidate", 0.1, 1),
        _row(5, "a.example", "/incumbent", 0.1, 1),  # eligible, allowed
        _row(6, "b.example", "/private/y", 0.1, 2, FUTURE),  # backing off, disallowed
    ]
    # fresh rediscoveries of every key but 4, with a higher priority
    fresh = [_row(k, "c.example", f"/{k}", 0.9, 0) for k in (1, 2, 3, 5, 6)]
    cand = spark.createDataFrame(fresh, FRONTIER_SCHEMA)
    live_parts = [spark.createDataFrame(live, FRONTIER_SCHEMA)]
    scheduled = spark.createDataFrame([(3,)], "url_hash long")
    robots = spark.createDataFrame(
        [("a.example", [], 500), ("b.example", ["/private"], 500)], ROBOTS_SCHEMA
    )

    winners = _winners(cand, live_parts, scheduled, robots, ROUND_TS, num_buckets=4)
    assert sorted(winners.columns) == sorted(FRONTIER_COLS)
    out = {r.url_hash: r for r in winners.collect()}
    assert sorted(out) == [1, 2, 3, 5, 6]  # the probe reaches candidate keys only
    # a backing-off live row beats a fresh rediscovery: attempt and backoff kept
    assert (out[1].url, out[1].attempt, out[1].next_eligible_ts) == (
        "http://a.example/backing-off",
        2,
        FUTURE,
    )
    # ... robots-disallowed or not: only eligible rows are gated this round
    assert (out[6].url, out[6].attempt) == ("http://b.example/private/y", 2)
    # an eligible, robots-disallowed live row is tombstoned, never an incumbent
    assert (out[2].url, out[2].attempt) == ("http://c.example/2", 0)
    # a scheduled key's live row is fetched this round, never an incumbent
    assert (out[3].url, out[3].attempt) == ("http://c.example/3", 0)
    # control: an eligible, allowed, unscheduled live row does win
    assert (out[5].url, out[5].attempt) == ("http://a.example/incumbent", 1)


def test_circuit_breaker_cuts_open_hosts_and_probes_half_open(spark, tmp_path):
    cfg = CrawlConfig(num_buckets=4)
    store = crawl_store(str(tmp_path / "store"), cfg)
    host_state = spark.createDataFrame(
        [
            ("open.example", PAST, 5, PAST, FUTURE),
            ("half.example", PAST, 5, PAST, PAST),  # recovery window passed
            ("ok.example", PAST, 0, None, None),
        ],
        "host string, last_fetch_ts timestamp, consecutive_failures int, "
        "last_fail_ts timestamp, quarantined_until timestamp",
    )
    store.commit_round(1, {"host_state": host_state})
    allowed = spark.createDataFrame(
        [
            _row(1, "open.example", "/a", 0.5, 0),
            _row(2, "open.example", "/b", 0.5, 0),
            _row(3, "half.example", "/a", 0.5, 0),
            _row(4, "ok.example", "/a", 0.5, 0),
        ],
        FRONTIER_SCHEMA,
    )
    # half.example has no robots row: only the full-outer join budgets it
    robots = spark.createDataFrame(
        [("open.example", [], 500), ("ok.example", [], 500)], ROBOTS_SCHEMA
    )

    cut, prev, budgets = _circuit_breaker(spark, store, 2, ROUND_TS, allowed, robots, cfg)
    assert prev is not None and prev.count() == 3
    assert sorted(r.url_hash for r in cut.collect()) == [3, 4]
    got = {r.host: r.max_per_round for r in budgets.collect()}
    cap = cfg.max_per_host
    assert got == {"open.example": cap, "ok.example": cap, "half.example": 1}

    # round 1 has no circuit history: nothing is cut, budgets are robots' own
    cut1, prev1, budgets1 = _circuit_breaker(spark, store, 1, ROUND_TS, allowed, robots, cfg)
    assert prev1 is None and cut1.count() == 4
    assert sorted(r.host for r in budgets1.collect()) == ["ok.example", "open.example"]


def test_frontier_log_stores_url_only_where_it_differs_from_url_canon(spark):
    raw = "http://A.example/y?utm_source=z"
    rows = [
        _row(1, "a.example", "/x", 0.5, 0),  # url == url_canon
        (raw, "http://a.example/y", 2, "a.example", 0.5, 0, None, None, 0, None),
        (None, None, 3, None, None, None, None, None, None, None),  # tombstone
    ]
    frontier = spark.createDataFrame(rows, FRONTIER_SCHEMA)
    stored = _encode_url(frontier)
    assert {r.url_hash: r.url for r in stored.collect()} == {1: None, 2: raw, 3: None}
    by_key = lambda df: {r.url_hash: r for r in df.select(*FRONTIER_COLS).collect()}
    assert by_key(_decode_url(stored)) == by_key(frontier)
    # rows stored with a full url (stores written before the encoding) read unchanged
    assert by_key(_decode_url(frontier)) == by_key(frontier)
