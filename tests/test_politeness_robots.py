from __future__ import annotations

from pyspark.sql import functions as F

from web_crawling_prj_spark.operators.politeness import batch_ids, host_budgets, schedule_round
from web_crawling_prj_spark.operators.robots import (
    gate_frontier,
    gate_frontier_flagged,
    parse_robots_table,
    parse_robots_txt,
    parse_robots_udf,
    robots_allows,
)

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:
    HAVE_HYPOTHESIS = False


def _pending(spark, n=5000, hosts=7, hot_share=3):
    # host 0 deliberately hot (~1/hot_share of rows)
    return spark.range(n).select(
        F.col("id").alias("doc"),
        F.when(F.pmod("id", F.lit(hot_share)) == 0, F.lit("hot.example"))
        .otherwise(F.format_string("h%d.example", F.pmod("id", F.lit(hosts))))
        .alias("host"),
        F.xxhash64("id").alias("url_hash"),
        (F.pmod(F.col("id") * 31, F.lit(1000)) / 1000.0).alias("priority"),
    )


def _budgets(spark):
    return spark.createDataFrame(
        [("hot.example", 10, 500), ("h1.example", 3, 500), ("h2.example", 5, 0)],
        "host string, max_per_round int, crawl_delay_ms int",
    )


def test_budget_never_exceeded(spark):
    sched = schedule_round(_pending(spark), _budgets(spark), n_salts=4, default_budget=7)
    counts = {r.host: r.n for r in sched.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert counts["hot.example"] <= 10
    assert counts.get("h1.example", 0) <= 3
    assert all(n <= 7 for h, n in counts.items() if h not in ("hot.example", "h1.example", "h2.example"))


def test_salted_rank_equals_exact_rank(spark):
    """Two-level salted top-k must EXACTLY equal the naive unsalted ranking."""
    pending = _pending(spark, 3000)
    budgets = _budgets(spark)
    salted = schedule_round(pending, budgets, n_salts=8, default_budget=6)
    naive = schedule_round(pending, budgets, n_salts=1, default_budget=6)
    a = {(r.host, r.url_hash, r.host_rank) for r in salted.collect()}
    b = {(r.host, r.url_hash, r.host_rank) for r in naive.collect()}
    assert a == b


def test_schedule_deterministic_across_runs(spark):
    p = _pending(spark, 2000)
    b = _budgets(spark)
    s1 = sorted((r.host, r.url_hash, r.host_rank) for r in schedule_round(p, b).collect())
    s2 = sorted((r.host, r.url_hash, r.host_rank) for r in schedule_round(p, b).collect())
    assert s1 == s2


def test_fetch_offset_and_proxy_slots(spark):
    sched = schedule_round(_pending(spark, 500), _budgets(spark), default_budget=12)
    rows = sched.where(F.col("host") == "hot.example").orderBy("host_rank").collect()
    # politeness spacing: rank k fetches at (k-1)*crawl_delay
    assert [r.fetch_offset_ms for r in rows] == [(r.host_rank - 1) * 500 for r in rows]
    assert all(0 <= r.proxy_slot < 30 for r in rows)
    batched = batch_ids(sched, batch_size=5)
    assert batched.where(F.col("batch_id") != F.floor((F.col("host_rank") - 1) / 5)).count() == 0


def test_host_budgets_from_robots(spark):
    robots = spark.createDataFrame(
        [("a.example", ["/p"], 1000), ("b.example", [], 0), ("c.example", [], None)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms int",
    )
    b = {r.host: r.max_per_round for r in host_budgets(robots, 10_000, max_per_host=50).collect()}
    assert b["a.example"] == 10  # 10s round / 1s delay
    assert b["b.example"] == 50  # no delay → capped
    assert b["c.example"] == 20  # default 500ms → 20


def test_parse_robots_txt():
    txt = """# comment
User-agent: Googlebot
Disallow: /google-only
User-agent: *
Disallow: /private
Disallow: /tmp
Crawl-delay: 2.5
"""
    dis, rules, delay = parse_robots_txt(txt)
    assert dis == ["/private", "/tmp"] and rules == [] and delay == 2500
    assert parse_robots_txt(None) == ([], [], None)
    assert parse_robots_txt("User-agent: *\nDisallow:") == ([], [], None)


def test_parse_robots_rfc9309_groups_and_agent_selection():
    txt = """User-agent: alpha
User-agent: *
Disallow: /shared
User-agent: beta
Disallow: /beta-only
Crawl-delay: 1

User-agent: *
Disallow: /second-star
"""
    # consecutive UA lines share one group; BOTH * groups combine (RFC §2.2.1)
    dis, rules, delay = parse_robots_txt(txt)
    assert dis == ["/shared", "/second-star"] and rules == []
    assert delay is None  # the beta group's delay belongs to beta only
    # exact product-token match beats *; its group alone applies
    dis_b, _, delay_b = parse_robots_txt(txt, agent="Beta")
    assert dis_b == ["/beta-only"] and delay_b == 1000
    # alpha matches via the shared UA line of group 1 (not the * fallback)
    dis_a, _, _ = parse_robots_txt(txt, agent="alpha")
    assert dis_a == ["/shared"]


def test_parse_robots_rfc9309_allow_wildcards_compile():
    dis, rules, _ = parse_robots_txt(
        "User-agent: *\nAllow: /p/ok\nDisallow: /p\nDisallow: /q*.pdf$\n"
    )
    assert dis == []  # any Allow/wildcard → the RFC rule tier
    by_rx = {rx: (plen, allow) for rx, plen, allow in rules}
    assert by_rx["^/p/ok"] == (5, True)
    assert by_rx["^/p"] == (2, False)
    assert by_rx["^/q.*\\.pdf$"] == (8, False)  # $ anchors, * wildcards, . escaped


def test_gate_rfc9309_longest_match_allow_wins(spark):
    txt = (
        "User-agent: *\n"
        "Allow: /private/public\n"
        "Disallow: /private\n"
        "Disallow: /*.zip$\n"
        "Allow: /dl/*.zip$\n"
    )
    raw = spark.createDataFrame([("a.example", txt)], "host string, robots_txt string")
    robots = parse_robots_table(raw)
    frontier = spark.createDataFrame(
        [
            ("a.example", "https://a.example/private/x"),        # blocked: /private
            ("a.example", "https://a.example/private/public/y"),  # allowed: longer Allow
            ("a.example", "https://a.example/files/big.zip"),     # blocked: /*.zip$
            ("a.example", "https://a.example/dl/big.zip"),        # allowed: longer Allow
            ("a.example", "https://a.example/files/big.zipper"),  # allowed: $ anchor misses
            ("a.example", "https://a.example/open"),              # allowed: no match
        ],
        "host string, url_canon string",
    )
    kept = {r.url_canon for r in gate_frontier(frontier, robots).collect()}
    assert kept == {
        "https://a.example/private/public/y",
        "https://a.example/dl/big.zip",
        "https://a.example/files/big.zipper",
        "https://a.example/open",
    }
    # the flagged variant agrees row-for-row
    flags = {
        r.url_canon: r.robots_allowed
        for r in gate_frontier_flagged(frontier, robots).collect()
    }
    assert {u for u, ok in flags.items() if ok} == kept
    # tie on length → Allow wins (RFC 9309 §2.2.2)
    tie = spark.createDataFrame(
        [("t.example", "User-agent: *\nAllow: /abc\nDisallow: /abc\n")],
        "host string, robots_txt string",
    )
    f2 = spark.createDataFrame(
        [("t.example", "https://t.example/abc/d")], "host string, url_canon string"
    )
    assert gate_frontier(f2, parse_robots_table(tie)).count() == 1


def test_parse_robots_udf_and_gate(spark):
    raw = spark.createDataFrame(
        [("a.example", "User-agent: *\nDisallow: /blocked"), ("b.example", "")],
        "host string, robots_txt string",
    )
    rules = raw.select("host", parse_robots_udf("robots_txt").alias("r")).select(
        "host", "r.disallow_prefixes", "r.crawl_delay_ms"
    )
    frontier = spark.createDataFrame(
        [
            ("a.example", "https://a.example/blocked/x"),
            ("a.example", "https://a.example/fine"),
            ("b.example", "https://b.example/anything"),
            ("z.example", "https://z.example/no-rules"),
        ],
        "host string, url_canon string",
    )
    kept = {r.url_canon for r in gate_frontier(frontier, rules).collect()}
    assert kept == {
        "https://a.example/fine",
        "https://b.example/anything",
        "https://z.example/no-rules",
    }


def test_rfc_gate_stays_python_free_on_the_big_side(spark):
    """The RFC tier's regex evaluation is native (regexp_like inside HOFs):
    the gate plan over the frontier must contain NO Python eval node — the
    only Python in the robots path is the per-host parse UDF, which runs on
    the tiny robots table, not the billions-row frontier."""
    raw = spark.createDataFrame(
        [("a.example", "User-agent: *\nAllow: /p/ok\nDisallow: /p*\n")],
        "host string, robots_txt string",
    )
    robots = parse_robots_table(raw).collect()  # parse done; rebuild as literal table
    robots_df2 = spark.createDataFrame(
        robots, "host string, disallow_prefixes array<string>, "
        "rules array<struct<rx:string,plen:int,allow:boolean>>, crawl_delay_ms int",
    )
    frontier = spark.createDataFrame(
        [("a.example", "https://a.example/p/ok/x")], "host string, url_canon string"
    )
    plan = (
        gate_frontier(frontier, robots_df2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan and "BatchEvalPython" not in plan


def test_robots_allows_root_disallow(spark):
    df = spark.createDataFrame([("/any/path", ["/"])], "path string, dis array<string>")
    assert df.select(robots_allows(F.col("path"), F.col("dis")).alias("a")).first().a is False


if HAVE_HYPOTHESIS:

    @settings(max_examples=20, deadline=None)
    @given(
        budget=st.integers(min_value=1, max_value=20),
        n_salts=st.integers(min_value=1, max_value=16),
    )
    def test_property_budget_respected(budget, n_salts):
        # session fixture not available inside hypothesis → use active session
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            return
        pending = _pending(spark, 600)
        budgets = spark.createDataFrame(
            [("hot.example", budget, 100)], "host string, max_per_round int, crawl_delay_ms int"
        )
        sched = schedule_round(pending, budgets, n_salts=n_salts, default_budget=budget)
        over = (
            sched.groupBy("host")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > budget)
            .count()
        )
        assert over == 0


def test_robots_txt_roundtrip(spark):
    """Raw robots.txt → Arrow-UDF parse reproduces the structured rules
    exactly (the production parse path equals the fixture path)."""
    from web_crawling_prj_spark.sources.pages_gen import robots_df, robots_txt_df

    raw = robots_txt_df(spark)
    parsed = raw.select("host", parse_robots_udf("robots_txt").alias("r")).select(
        "host",
        F.col("r.disallow_prefixes").alias("disallow_prefixes"),
        F.col("r.crawl_delay_ms").alias("crawl_delay_ms"),
    )
    want = {
        r.host: (list(r.disallow_prefixes), r.crawl_delay_ms)
        for r in robots_df(spark).collect()
    }
    got = {
        r.host: (list(r.disallow_prefixes or []), r.crawl_delay_ms)
        for r in parsed.collect()
    }
    for host, (dis, delay) in want.items():
        gdis, gdelay = got[host]
        assert gdis == dis, (host, gdis, dis)
        # delay 0 renders as no Crawl-delay line → parses to null → same default
        assert gdelay == (delay if delay > 0 else None)


def test_schedule_tiebreak_url_canon(spark):
    """Replay knob: tiebreak='url_canon' breaks per-host priority ties by URL
    string order (SQL-portable), not url_hash — exact top-k semantics
    otherwise unchanged (same winner COUNT per host as the default)."""
    from web_crawling_prj_spark.operators.politeness import host_budgets, schedule_round

    pending = spark.range(40).select(
        F.xxhash64("id").alias("url_hash"),
        F.format_string("https://h0.example/p/%02d", "id").alias("url_canon"),
        F.lit("h0.example").alias("host"),
        F.lit(0.5).alias("priority"),  # all tied → tiebreak decides entirely
    )
    robots = spark.createDataFrame([("h0.example", 100)], "host string, crawl_delay_ms int")
    budgets = host_budgets(robots, 30_000, max_per_host=10)
    got = schedule_round(pending, budgets, n_salts=4, tiebreak="url_canon").collect()
    picked = sorted(r["url_canon"] for r in got)
    assert picked == [f"https://h0.example/p/{i:02d}" for i in range(10)]
    # rank follows url order exactly
    by_rank = sorted(got, key=lambda r: r["host_rank"])
    assert [r["url_canon"] for r in by_rank] == picked


def test_synthetic_fetch_roll_mode_doc_matches_arithmetic(spark):
    """Replay knob: roll_mode='doc' draws failures from pure integer
    arithmetic over (page_doc_id, round_id) — re-derivable by any ANSI-SQL
    engine. Pin the exact band arithmetic against a Python re-computation."""
    from web_crawling_prj_spark.operators.fetch import synthetic_fetch
    from web_crawling_prj_spark.operators.retry import classify_fetch_log

    n = 2000
    pages = spark.range(n).select(
        F.format_string("https://h%d.example/doc/%d", F.pmod("id", F.lit(5)), "id").alias("url"),
        F.lit("2025-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(F.format_string("<html>%d</html>", "id"), "utf-8").alias("html"),
        F.format_string("%d", "id").alias("text"),
        F.lit("en").alias("lang"),
        F.col("id").alias("doc_id"),
    )
    sched = pages.select(
        F.col("url").alias("url_canon"),
        F.xxhash64("url").alias("url_hash"),
        F.format_string("h%d.example", F.pmod("doc_id", F.lit(5))).alias("host"),
        F.lit(0.5).alias("priority"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("attempt"),
        F.lit(0).cast("long").alias("fetch_offset_ms"),
        F.lit(0).alias("proxy_slot"),
    )
    log = classify_fetch_log(
        synthetic_fetch(sched, pages, 3, "2025-06-01 00:00:00", roll_mode="doc")
    ).select("page_doc_id", "error_class").collect()

    bands = [(100, "network_error"), (150, "rate_limit"), (180, "timeout"),
             (200, "proxy_error"), (210, "auth_error"), (220, "token_expired"),
             (250, "api_error"), (280, "parsing_error")]

    def expect(doc):
        roll = (((doc * 131 + 3) % 1000003) * 2654435761 + 42 * 11) % (2**31 - 1) % 10000
        for cum, cls in bands:
            if roll < cum:
                return cls
        return "ok"

    assert len(log) == n
    for r in log:
        assert r["error_class"] == expect(r["page_doc_id"]), r
    # and at least two failure classes actually occur at this n
    assert len({r["error_class"] for r in log}) >= 3
