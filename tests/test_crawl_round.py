from __future__ import annotations

import dataclasses
import shutil

import pytest
from pyspark.sql import functions as F

from web_crawling_prj_spark.plans.crawl_round import (
    CrawlConfig,
    crawl_store,
    frontier_from_seeds,
    round_checkpoints,
    run_crawl,
)
from web_crawling_prj_spark.plans.statestore import StateStore
from web_crawling_prj_spark.sources.pages_gen import pages_df, robots_df, seeds_df


@pytest.fixture(scope="module")
def crawl_inputs(spark, sf_dir):
    pages = pages_df(spark, sf_dir).cache()
    robots = robots_df(spark)
    seeds = seeds_df(spark, sf_dir)
    max_doc = pages.agg(F.max("doc_id")).first()[0] + 1
    cfg = CrawlConfig(num_buckets=8, n_salts=4, max_per_host=25, default_budget=25)
    cfg.extra["max_doc_id"] = max_doc
    yield pages, robots, seeds, cfg
    pages.unpersist()


def _cache_manager(spark):
    """The session's CacheManager: every relation ``persist``/``cache``
    registered and has not released yet."""
    return spark._jsparkSession.sharedState().cacheManager()


def _fold_every_2(cfg: CrawlConfig) -> CrawlConfig:
    """``cfg`` folding every 2 rounds: a 3-round crawl then reads one fold
    tier of each state table plus one un-folded round."""
    return dataclasses.replace(cfg, compact_every=2)


@pytest.fixture(scope="module")
def three_round_store(spark, tmp_path_factory, crawl_inputs):
    """ONE 3-round crawl with the crawl_inputs config folding every 2 rounds
    (``_fold_every_2``), shared by the tests that only read a crawled store
    — ``(store, run_crawl stats)``. Read-only: a test that commits, folds,
    vacuums or fabricates rounds builds its own store."""
    pages, robots, seeds, cfg = crawl_inputs
    cfg = _fold_every_2(cfg)
    store = crawl_store(str(tmp_path_factory.mktemp("crawl3") / "store"), cfg)
    stats = run_crawl(spark, store, pages, robots, seeds, rounds=3, cfg=cfg)
    yield store, stats
    shutil.rmtree(store.root)


@pytest.fixture(scope="module")
def unfolded_five_rounds(spark, tmp_path_factory, crawl_inputs):
    """ONE 5-round crawl that never folds (``compact_every=0``) — the
    reference the fold-schedule tests compare against, shared read-only as
    ``(store, run_crawl stats, cfg)``. A test that continues the crawl copies
    the store first."""
    pages, robots, seeds, cfg = crawl_inputs
    co = dataclasses.replace(cfg, compact_every=0)
    co.extra["max_doc_id"] = cfg.extra["max_doc_id"]
    store = crawl_store(str(tmp_path_factory.mktemp("unfolded5") / "store"), co)
    stats = run_crawl(spark, store, pages, robots, seeds, rounds=5, cfg=co)
    yield store, stats, co
    shutil.rmtree(store.root)


def _final_state(store, spark):
    seen = store.read_all(spark, "seen_delta")
    log = store.read_all(spark, "fetch_log")
    seen_set = frozenset(r.url_hash for r in seen.collect()) if seen is not None else frozenset()
    sched_order = (
        tuple(
            (r.round_id, r.host, r.url_hash)
            for r in log.orderBy("round_id", "host", "url_hash").collect()
        )
        if log is not None
        else ()
    )
    return seen_set, sched_order


def test_frontier_from_seeds_dedups(spark, sf_dir):
    seeds = seeds_df(spark, sf_dir)
    f = frontier_from_seeds(seeds)
    assert f.count() == f.select("url_hash").distinct().count()
    assert f.count() < seeds.count()  # duplicate seeds collapsed


def test_init_round_commits_only_the_seed_log(spark, tmp_path, crawl_inputs):
    """Round 0 commits the seed frontier as add events and nothing else: the
    seen-set starts empty, so no seen_delta is written."""
    from web_crawling_prj_spark.plans.crawl_round import init_crawl, live_frontier

    pages, robots, seeds, cfg = crawl_inputs
    store = crawl_store(str(tmp_path / "init"), cfg)
    init_crawl(spark, store, seeds, cfg)
    assert store.manifest(0)["tables"] == ["frontier_log"]
    assert store.read_parts(spark, "seen_delta", up_to=0) == ([], [])
    live = live_frontier(spark, store, 0, cfg)
    assert live.count() == frontier_from_seeds(seeds).count() > 0


def test_seed_log_keeps_url_only_where_it_differs(spark, tmp_path, crawl_inputs):
    """The seed log stores ``url`` NULL where it equals ``url_canon``; a seed
    whose raw url differs keeps it, and the live view restores every url."""
    from web_crawling_prj_spark.plans.crawl_round import init_crawl, live_frontier

    cfg = crawl_inputs[3]
    raw = "https://Host-1.example/a?utm_source=x"
    seeds = spark.createDataFrame(
        [(raw, 0.5, 0), ("https://host-1.example/b", 0.5, 0)],
        "url string, priority double, depth int",
    )
    store = crawl_store(str(tmp_path / "seedurl"), cfg)
    init_crawl(spark, store, seeds, cfg)
    urls = lambda df: {r.url_canon: r.url for r in df.collect()}
    assert urls(store.read_round(spark, "frontier_log", 0)) == {
        "https://host-1.example/a": raw,
        "https://host-1.example/b": None,
    }
    assert urls(live_frontier(spark, store, 0, cfg)) == {
        "https://host-1.example/a": raw,
        "https://host-1.example/b": "https://host-1.example/b",
    }


def test_url_encoded_store_reads_like_a_full_url_store(
    spark, tmp_path, crawl_inputs, three_round_store, monkeypatch
):
    """The shared 3-round crawl (folded after round 2) crawled again with the
    url encoding off — a store holding a full ``url`` column, as stores
    written before the encoding do: both read the same live frontier at
    every round, ``url`` included, and crawl identically."""
    import web_crawling_prj_spark.plans.crawl_round as cr

    pages, robots, seeds, cfg = crawl_inputs
    cfg = _fold_every_2(cfg)
    enc, _ = three_round_store
    monkeypatch.setattr(cr, "_encode_url", lambda log: log)
    full = crawl_store(str(tmp_path / "full"), cfg)
    run_crawl(spark, full, pages, robots, seeds, rounds=3, cfg=cfg)
    monkeypatch.undo()

    adds = lambda s: s.read_all(spark, "frontier_log").where(~F.col("is_del"))
    assert adds(full).where(F.col("url").isNull()).count() == 0
    # this crawl's seeds are canonical, so the encoded store keeps no url
    assert adds(enc).where(F.col("url").isNotNull()).count() == 0
    live = lambda s, r: {
        row.url_hash: row
        for row in cr.live_frontier(spark, s, r, cfg).select(*cr.FRONTIER_COLS).collect()
    }
    for r in range(4):
        got = live(enc, r)
        assert got and got == live(full, r)
        assert all(row.url == row.url_canon for row in got.values())
    assert _final_state(enc, spark) == _final_state(full, spark)
    shutil.rmtree(full.root)


def test_three_rounds_end_to_end(spark, crawl_inputs, three_round_store):
    pages, robots, seeds, cfg = crawl_inputs
    store, stats = three_round_store
    assert [s["round_id"] for s in stats] == [1, 2, 3]
    assert all(s["scheduled"] > 0 for s in stats)
    assert sum(s["ok"] for s in stats) > 0

    # no URL fetched twice with status ok∪exhausted (seen-set monotone, no dup fetch)
    log = store.read_all(spark, "fetch_log")
    dup = (
        log.where(~F.col("can_retry"))
        .groupBy("url_hash")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert dup == 0

    # extraction invariant: every ok fetch has byte-identical text to the store
    joined = (
        log.where(F.col("error_class") == "ok")
        .join(pages.select(F.col("url").alias("url_canon"), "text"), "url_canon")
        .where(~F.col("extracted_text").eqNullSafe(F.col("text")))
    )
    assert joined.count() == 0

    # per-partition metrics landed
    metrics = store.read_all(spark, "metrics")
    assert metrics.where(F.col("scheduled_cnt") > 0).count() > 0


def test_kill_resume_reproduces_state(spark, tmp_path, crawl_inputs, three_round_store):
    pages, robots, seeds, cfg = crawl_inputs
    cfg = _fold_every_2(cfg)
    a, _ = three_round_store  # uninterrupted 3-round run

    # "killed" run: stop after round 1, then resume to 3
    b = crawl_store(str(tmp_path / "b"), cfg)
    run_crawl(spark, b, pages, robots, seeds, rounds=1, cfg=cfg)
    # simulate orphan garbage from a kill mid-round-2 (data written, no manifest)
    orphan = b.root + "/frontier_log/round=000002"
    store_df = b.read_round(spark, "frontier_log", 1).limit(3)
    store_df.write.mode("overwrite").parquet(orphan)
    run_crawl(spark, b, pages, robots, seeds, rounds=3, cfg=cfg)

    assert _final_state(a, spark) == _final_state(b, spark)
    shutil.rmtree(str(tmp_path / "b"))


def test_determinism_across_parallelism(spark, tmp_path, crawl_inputs):
    """Same crawl at shuffle.partitions=3 vs 8 → identical schedule + seen set."""
    pages, robots, seeds, cfg = crawl_inputs
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        s3 = crawl_store(str(tmp_path / "p3"), cfg)
        run_crawl(spark, s3, pages, robots, seeds, rounds=2, cfg=cfg)
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        s8 = crawl_store(str(tmp_path / "p8"), cfg)
        run_crawl(spark, s8, pages, robots, seeds, rounds=2, cfg=cfg)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert _final_state(s3, spark) == _final_state(s8, spark)


def test_robots_and_budget_invariants(spark, crawl_inputs, three_round_store):
    pages, robots, seeds, cfg = crawl_inputs
    store, _ = three_round_store
    log = store.read_all(spark, "fetch_log")

    # politeness: per (round, host) scheduled count ≤ budget
    from web_crawling_prj_spark.operators.politeness import host_budgets

    budgets = host_budgets(robots, cfg.round_duration_ms, max_per_host=cfg.max_per_host)
    over = (
        log.groupBy("round_id", "host")
        .agg(F.count("*").alias("n"))
        .join(budgets, "host", "left")
        .where(F.col("n") > F.coalesce("max_per_round", F.lit(cfg.default_budget)))
    )
    assert over.count() == 0

    # robots: nothing fetched from a disallowed path
    from web_crawling_prj_spark.operators.robots import path_of, robots_allows

    fetched = log.join(F.broadcast(robots), "host", "left")
    viol = fetched.where(~robots_allows(path_of("url_canon"), F.col("disallow_prefixes")))
    assert viol.count() == 0


def test_pagerank_priority_round(spark, tmp_path, crawl_inputs):
    pages, robots, seeds, cfg = crawl_inputs
    cfg2 = dataclasses.replace(cfg, pagerank_weight=0.4)
    cfg2.extra["max_doc_id"] = cfg.extra["max_doc_id"]
    store = crawl_store(str(tmp_path / "pr"), cfg)
    stats = run_crawl(spark, store, pages, robots, seeds, rounds=3, cfg=cfg2)
    assert all(s["scheduled"] > 0 for s in stats)
    # determinism holds with pagerank enabled
    store2 = crawl_store(str(tmp_path / "pr2"), cfg)
    run_crawl(spark, store2, pages, robots, seeds, rounds=3, cfg=cfg2)
    assert _final_state(store, spark) == _final_state(store2, spark)


def test_robots_refresh_blocks_host_next_round(spark, tmp_path, crawl_inputs):
    """C13: the between-rounds robots_source hook — a host whose robots.txt
    turns to Disallow:/ after round 1 is scheduled in round 1 but never again."""
    from web_crawling_prj_spark.sources.pages_gen import robots_txt_df

    pages, robots, seeds, cfg = crawl_inputs
    hot = "host-0000.example"

    def robots_source(s, round_id):
        raw = robots_txt_df(s)
        if round_id <= 1:
            return raw
        hostile = F.when(
            F.col("host") == hot, F.lit("User-agent: *\nDisallow: /\n")
        ).otherwise(F.col("robots_txt"))
        return raw.select("host", hostile.alias("robots_txt"))

    store = crawl_store(str(tmp_path / "rr"), cfg)
    run_crawl(spark, store, pages, robots, seeds, rounds=3, cfg=cfg, robots_source=robots_source)
    log = store.read_all(spark, "fetch_log")
    per_round = {
        r.round_id: r.n
        for r in log.where(F.col("host") == hot)
        .groupBy("round_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert per_round.get(1, 0) > 0  # scheduled while allowed
    assert per_round.get(2, 0) == 0 and per_round.get(3, 0) == 0  # gone after refresh


def test_run_report_committed_and_abort_threshold(
    spark, tmp_path, crawl_inputs, three_round_store
):
    """C20/C4: every round commits a run_report row (success-rate parity with
    the metrics table); with abort_on_failed_run a flood of failures raises
    AFTER the round committed (resume-consistent abort)."""
    from web_crawling_prj_spark.plans.reports import run_summary

    pages, robots, seeds, cfg = crawl_inputs
    store, _ = three_round_store
    for r in (1, 2, 3):
        rep = store.read_round(spark, "run_report", r).collect()
        assert len(rep) == 1 and rep[0].round_id == r
        m = store.read_round(spark, "metrics", r)
        exp = run_summary(m).first()
        assert rep[0].asDict() == exp.asDict()
        assert not rep[0].run_failed  # 2.8% synthetic failure rate ≪ 50%

    # force a failing run: ~99% failure per-mille → threshold trips → raises
    bad = dataclasses.replace(cfg, failure_per_mille=990)
    bad.extra = dict(cfg.extra, abort_on_failed_run=True)
    store2 = crawl_store(str(tmp_path / "rep2"), cfg)
    import pytest as _pytest

    cached = _cache_manager(spark).numCachedEntries()
    with _pytest.raises(RuntimeError, match="failed"):
        run_crawl(spark, store2, pages, robots, seeds, rounds=1, cfg=bad)
    assert store2.last_committed_round() == 1  # abort happened post-commit
    # the abort leaks no cached relation: the round keeps its frames only
    # as checkpoints, which the next round frees
    assert _cache_manager(spark).numCachedEntries() == cached


def test_seen_compaction_equivalence_and_path_bound(
    spark, tmp_path, crawl_inputs, unfolded_five_rounds
):
    """Compaction is a pure layout rewrite: an 8-round crawl compacting every
    3 rounds produces the identical seen-set/schedule as one that never
    compacts (itself kill/resumed mid-run), while its seen-set scan reads
    O(1+K) directories instead of one per round."""
    pages, robots, seeds, cfg = crawl_inputs
    ca = dataclasses.replace(cfg, compact_every=3)
    ca.extra["max_doc_id"] = cfg.extra["max_doc_id"]

    a = crawl_store(str(tmp_path / "ca"), cfg)
    run_crawl(spark, a, pages, robots, seeds, rounds=8, cfg=ca)
    # the never-compacting crawl, "killed" after round 5 (a copy of the
    # shared 5-round store) and resumed to 8
    ref, _, cb = unfolded_five_rounds
    shutil.copytree(ref.root, str(tmp_path / "cb"))
    b = crawl_store(str(tmp_path / "cb"), cb)
    run_crawl(spark, b, pages, robots, seeds, rounds=8, cfg=cb)

    assert _final_state(a, spark) == _final_state(b, spark)
    assert a.base_upto("seen_delta") == 6  # last multiple of 3 ≤ 8
    # directory bound (LSM tiers): ≤ max_tiers tier dirs + deltas 7,8
    import os

    dirs = {os.path.dirname(f.replace("file:", "")) for f in a.read_all(spark, "seen_delta").inputFiles()}
    assert len(dirs) <= 4, dirs

    # vacuum reclaims folded dirs without changing the data
    before = a.read_all(spark, "seen_delta").count()
    n = a.vacuum_compacted("seen_delta")
    assert n > 0
    assert a.read_all(spark, "seen_delta").count() == before
    shutil.rmtree(str(tmp_path / "ca"))
    shutil.rmtree(str(tmp_path / "cb"))


def test_kill_mid_compaction_is_safe(spark, tmp_path, crawl_inputs):
    """A compaction that died before the pointer swap leaves garbage the next
    compact() overwrites; read_all never sees a half-written base."""
    pages, robots, seeds, cfg = crawl_inputs
    store = crawl_store(str(tmp_path / "mc"), cfg)
    run_crawl(spark, store, pages, robots, seeds, rounds=2, cfg=cfg)
    # fabricate a dead half-compaction: base dir exists, no pointer
    dead = store._base_dir("seen_delta", 2)
    store.read_all(spark, "seen_delta").limit(1).write.parquet(dead)
    assert store.base_upto("seen_delta") is None
    full = store.read_all(spark, "seen_delta").count()
    store.compact(spark, "seen_delta", up_to=2)
    assert store.base_upto("seen_delta") == 2
    assert store.read_all(spark, "seen_delta").count() == full


def test_circuit_open_then_half_open(spark, tmp_path, crawl_inputs):
    """Forced circuit states: open host schedules nothing (rows deferred);
    half-open host schedules exactly one probe URL."""
    import datetime as dt

    from web_crawling_prj_spark.plans.crawl_round import (
        FRONTIER_LOG_COLS,
        live_frontier,
        run_round,
    )

    pages, robots, seeds, cfg = crawl_inputs
    store = crawl_store(str(tmp_path / "cb"), cfg)
    run_crawl(spark, store, pages, robots, seeds, rounds=1, cfg=cfg)

    hot = "host-0000.example"
    assert live_frontier(spark, store, 1, cfg).where(F.col("host") == hot).count() > 1

    def fabricate(round_id, quarantined_until):
        # a round that changed nothing but the circuit: an empty frontier_log
        # (the live view carries over untouched) plus the forced host_state
        state = spark.createDataFrame(
            [(hot, dt.datetime(2025, 6, 1), 12, dt.datetime(2025, 6, 1), quarantined_until)],
            "host string, last_fetch_ts timestamp, consecutive_failures long, "
            "last_fail_ts timestamp, quarantined_until timestamp",
        )
        no_events = store.read_round(spark, "frontier_log", 0).limit(0).select(
            *FRONTIER_LOG_COLS
        )
        store.commit_round(
            round_id,
            {
                "frontier_log": no_events,
                "seen_delta": spark.createDataFrame(
                    [], "url_hash long, bucket int, first_seen_round int, first_seen_ts timestamp"
                ),
                "host_state": state,
            },
        )

    # round 2 fabricated: hot host OPEN far into the future
    fabricate(2, dt.datetime(2030, 1, 1))
    run_round(spark, store, pages, robots, 3, cfg)
    log3 = store.read_round(spark, "fetch_log", 3)
    assert log3.where(F.col("host") == hot).count() == 0  # fully open: sits out
    # deferred, not lost: hot rows still live after the round
    assert live_frontier(spark, store, 3, cfg).where(F.col("host") == hot).count() > 0

    # round 4 fabricated: recovery window passed → HALF_OPEN (streak still 12)
    fabricate(4, dt.datetime(2025, 6, 1, 0, 0, 30))
    run_round(spark, store, pages, robots, 5, cfg)
    log5 = store.read_round(spark, "fetch_log", 5)
    assert log5.where(F.col("host") == hot).count() == 1  # exactly one probe


def test_bucketed_store_equals_plain_store(spark, tmp_path, crawl_inputs, three_round_store):
    """The bucketed layout is a pure physical choice: a crawl on the bucketed
    crawl_store produces the identical seen-set and schedule as one on a plain
    parquet StateStore. Both fold after round 2, so bucketed tiers are
    compared with plain ones."""
    pages, robots, seeds, cfg = crawl_inputs
    plain = StateStore(str(tmp_path / "plain"))
    run_crawl(spark, plain, pages, robots, seeds, rounds=3, cfg=_fold_every_2(cfg))
    bkt, _ = three_round_store
    for table in ("seen_delta", "frontier_log"):
        assert [(t["upto"], t["n"]) for t in bkt.tiers(table)] == [(2, cfg.num_buckets)]
        assert plain.tiers(table) == [{"upto": 2}]
    assert _final_state(plain, spark) == _final_state(bkt, spark)
    shutil.rmtree(str(tmp_path / "plain"))


def test_bucketed_tables_reregister_in_fresh_catalog(spark, tmp_path, crawl_inputs):
    """Resume in a NEW session: the in-memory catalog is empty, so bucketed
    tier reads re-create the external table entries from the tier pointer.
    The data (and bucket layout) live on disk; registration is metadata-only.
    The catalog holds exactly the live tiers: per-round dirs never register."""
    pages, robots, seeds, cfg = crawl_inputs
    from web_crawling_prj_spark.plans.crawl_round import live_frontier

    store = crawl_store(str(tmp_path / "fresh"), cfg)
    run_crawl(spark, store, pages, robots, seeds, rounds=2, cfg=cfg)
    store.compact(spark, "seen_delta", up_to=2)
    before = live_frontier(spark, store, 2, cfg).count()
    seen_before = store.read_all(spark, "seen_delta").count()

    entries = {t.tableName for t in spark.sql(f"SHOW TABLES LIKE '{store._prefix}*'").collect()}
    assert entries == {
        store._tier_catalog_name(table, t["upto"])
        for table in ("seen_delta", "frontier_log")
        for t in store.tiers(table)
    } == {store._tier_catalog_name("seen_delta", 2)}
    # simulate the fresh session: drop every catalog entry this store created
    for name in entries:
        spark.sql(f"DROP TABLE {name}")
    store2 = crawl_store(str(tmp_path / "fresh"), cfg)  # resumed driver
    assert store2.last_committed_round() == 2
    f = live_frontier(spark, store2, 2, cfg)
    assert f.count() == before
    bases, deltas = store2.read_parts(spark, "seen_delta", up_to=2)
    total = sum(b.count() for b in bases) + sum(d.count() for d in deltas)
    assert total == seen_before
    # and round 3 actually runs on the re-registered store
    from web_crawling_prj_spark.plans.crawl_round import run_round

    stats = run_round(spark, store2, pages, robots, 3, cfg)
    assert stats["scheduled"] > 0


def test_run_artifact_matches_committed_tables(spark, three_round_store):
    """The rendered per-round report artifact (md + json next to the manifest)
    carries EXACTLY the committed run_report / metrics numbers."""
    import json
    import os

    store, _ = three_round_store
    for r in (1, 2, 3):
        jpath = os.path.join(store.root, "_manifests", f"{r:06d}.report.json")
        mpath = os.path.join(store.root, "_manifests", f"{r:06d}.report.md")
        assert os.path.exists(jpath) and os.path.exists(mpath)
        with open(jpath) as f:
            art = json.load(f)
        rep = store.read_round(spark, "run_report", r).first().asDict()
        for k, v in rep.items():
            assert art[k] == v, (k, art[k], v)
        m = {x["bucket"]: x for x in art["per_bucket"]}
        for row in store.read_round(spark, "metrics", r).collect():
            assert m[row.bucket]["scheduled_cnt"] == row.scheduled_cnt
            assert m[row.bucket]["failed_cnt"] == row.failed_cnt
        md = open(mpath).read()
        assert f"scheduled: {rep['scheduled']}" in md
        assert ("RUN FAILED" in md) == rep["run_failed"]


def test_run_artifact_idle_round(spark, tmp_path, crawl_inputs):
    """Regression (found by the 30-round drain): a round that schedules
    NOTHING commits an empty run_report — the artifact must render as an idle
    round, not crash."""
    import json
    import os

    from web_crawling_prj_spark.plans.reports import render_run_artifact

    pages, robots, seeds, cfg = crawl_inputs
    store = crawl_store(str(tmp_path / "idle"), cfg)
    empty_m = spark.createDataFrame(
        [], "bucket int, scheduled_cnt long, fetched_ok_cnt long, failed_cnt long, "
        "retried_cnt long, round_id int",
    )
    from web_crawling_prj_spark.plans.reports import run_summary

    store.commit_round(1, {"metrics": empty_m, "run_report": run_summary(empty_m)})
    path = render_run_artifact(spark, store, 1)
    assert os.path.exists(path)
    with open(path.replace(".md", ".json")) as f:
        art = json.load(f)
    assert art["scheduled"] == 0 and art["run_failed"] is False and art["per_bucket"] == []


def test_tiered_compaction_minor_never_rewrites_old_tiers(spark, tmp_path, crawl_inputs):
    """LSM tiering: a MINOR fold writes only the new rounds into a new tier —
    the existing tier's files are byte-untouched (no O(N) rewrite per fold);
    a MAJOR fold (tier count > max_tiers) merges everything into one tier.
    read_all is invariant through all of it."""
    import os

    pages, robots, seeds, cfg = crawl_inputs
    c = dataclasses.replace(cfg, compact_every=0)
    c.extra["max_doc_id"] = cfg.extra["max_doc_id"]
    store = crawl_store(str(tmp_path / "lsm"), c)
    run_crawl(spark, store, pages, robots, seeds, rounds=6, cfg=c)
    truth = frozenset(r.url_hash for r in store.read_all(spark, "seen_delta").collect())

    def tier_files(upto):
        d = store._base_dir("seen_delta", upto)
        return {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}

    assert store.compact(spark, "seen_delta", up_to=2, max_tiers=2) == 2
    snap_a = tier_files(2)
    assert store.compact(spark, "seen_delta", up_to=4, max_tiers=2) == 4  # minor
    assert [t["upto"] for t in store.tiers("seen_delta")] == [2, 4]
    assert tier_files(2) == snap_a  # old tier untouched — the LSM property
    bases, deltas = store.read_parts(spark, "seen_delta", up_to=4)
    assert len(bases) == 2
    assert frozenset(r.url_hash for r in store.read_all(spark, "seen_delta").collect()) == truth

    assert store.compact(spark, "seen_delta", up_to=6, max_tiers=2) == 6  # major
    assert [t["upto"] for t in store.tiers("seen_delta")] == [6]
    assert not os.path.exists(store._base_dir("seen_delta", 2))  # superseded reclaimed
    assert not os.path.exists(store._base_dir("seen_delta", 4))
    assert frozenset(r.url_hash for r in store.read_all(spark, "seen_delta").collect()) == truth
    # and the crawl keeps running on the tiered store
    from web_crawling_prj_spark.plans.crawl_round import run_round

    assert run_round(spark, store, pages, robots, 7, c)["scheduled"] >= 0


def test_vacuum_reaps_orphan_tier_dirs(spark, tmp_path, crawl_inputs):
    """A kill between a major fold's pointer publish and its cleanup loop
    leaves superseded tier dirs unreferenced forever (no later fold's
    cleanup lists them). vacuum_compacted reaps them; live tiers and the
    folded state are untouched."""
    import os

    pages, robots, seeds, cfg = crawl_inputs
    c = dataclasses.replace(cfg, compact_every=0)
    c.extra["max_doc_id"] = cfg.extra["max_doc_id"]
    store = crawl_store(str(tmp_path / "orph"), c)
    run_crawl(spark, store, pages, robots, seeds, rounds=4, cfg=c)
    assert store.compact(spark, "seen_delta", up_to=4) == 4
    truth = frozenset(r.url_hash for r in store.read_all(spark, "seen_delta").collect())

    # simulate the crash leftover: an upto= dir the pointer no longer lists
    orphan = store._base_dir("seen_delta", 2)
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as f:
        f.write(b"junk")
    live_dir = store._base_dir("seen_delta", 4)

    store.vacuum_compacted("seen_delta", spark)
    assert not os.path.exists(orphan)
    assert os.path.isdir(live_dir)
    assert [t["upto"] for t in store.tiers("seen_delta")] == [4]
    assert frozenset(r.url_hash for r in store.read_all(spark, "seen_delta").collect()) == truth


def test_tiered_frontier_folds_and_merge_regime_equal_unfolded(
    spark, tmp_path, crawl_inputs, unfolded_five_rounds
):
    """Round-5 headline: TIERED frontier-log folds (minor folds O(window
    churn), tombstones kept until a major fold) + the co-located MERGE plan
    for every churn-key join (spark.sql.autoBroadcastJoinThreshold=-1 forces
    it) reproduce the exact crawl of an unfolded store planned under the
    default threshold. fold_max_tiers=2, compact_every=2 over
    9 rounds exercises: terminal first fold (r2), minor fold with tombstones
    (r4), MAJOR fold (r6, tier count would exceed 2), minor again (r8) — and
    the old tier's files are byte-untouched by the minor fold."""
    import os

    pages, robots, seeds, cfg = crawl_inputs
    cn = dataclasses.replace(cfg, compact_every=2, fold_max_tiers=2)
    cn.extra["max_doc_id"] = cfg.extra["max_doc_id"]

    # the unfolded store continues past round 5: copy the shared one
    ref, sa, co = unfolded_five_rounds
    shutil.copytree(ref.root, str(tmp_path / "tier_old"))
    a = crawl_store(str(tmp_path / "tier_old"), co)
    b = crawl_store(str(tmp_path / "tier_new"), cn)
    sa = list(sa)

    def tier_files(store, upto):
        d = store._base_dir("frontier_log", upto)
        return {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}

    def merge_crawl(rounds):
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            return run_crawl(spark, b, pages, robots, seeds, rounds=rounds, cfg=cn)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    sb = merge_crawl(3)  # fold @ r2
    snap = tier_files(b, 2)
    sb += merge_crawl(5)  # minor fold @ r4
    # after r2 (terminal) + r4 (minor): two tiers, minor fold carries dels
    assert [t["upto"] for t in b.tiers("frontier_log")] == [2, 4]
    log4 = spark.read.parquet(b._base_dir("frontier_log", 4))
    assert log4.where(F.col("is_del")).count() > 0  # non-terminal keeps tombstones
    assert tier_files(b, 2) == snap  # minor fold left the old tier byte-untouched
    sa += run_crawl(spark, a, pages, robots, seeds, rounds=9, cfg=co)
    sb += merge_crawl(9)
    assert [t["upto"] for t in b.tiers("frontier_log")] == [6, 8]  # major@6, minor@8
    log6 = spark.read.parquet(b._base_dir("frontier_log", 6))
    assert log6.where(F.col("is_del")).count() == 0  # terminal dropped tombstones
    assert sa == sb
    assert _final_state(a, spark) == _final_state(b, spark)
    shutil.rmtree(str(tmp_path / "tier_old"))
    shutil.rmtree(str(tmp_path / "tier_new"))


def test_vacuum_after_fold_bounds_store_dirs(spark, tmp_path, crawl_inputs, unfolded_five_rounds):
    """CrawlConfig.vacuum_after_fold reclaims folded round dirs each fold:
    the store's per-round dir inventory stays bounded by the un-folded
    window, the crawl's observable state is unchanged (equal to a crawl
    that never folds), and a partial (killed) vacuum is repaired by the
    next one."""
    import os

    pages, robots, seeds, cfg = crawl_inputs
    cv = dataclasses.replace(cfg, compact_every=2, vacuum_after_fold=True)
    cv.extra["max_doc_id"] = cfg.extra["max_doc_id"]

    a = crawl_store(str(tmp_path / "vac"), cv)
    run_crawl(spark, a, pages, robots, seeds, rounds=4, cfg=cv)

    def round_dirs(store, table):
        d = os.path.join(store.root, table)
        return sorted(f for f in os.listdir(d)) if os.path.isdir(d) else []

    # folded rounds reclaimed; only the un-folded window survives
    assert round_dirs(a, "frontier_log") == []  # fold at r4 covers all rounds
    assert round_dirs(a, "seen_delta") == []
    # simulate a kill MID-vacuum: resurrect a superseded round-3 dir (vacuum
    # deleted rounds 1-4 after the r4 fold; a kill between two rmtrees leaves
    # exactly this shape — some folded dirs gone, one still on disk). Head
    # reads must ignore it (≤ fold floor), and the NEXT fold's vacuum must
    # finish the job.
    remnant = os.path.join(a.root, "frontier_log", "round=000003")
    os.makedirs(remnant)
    with open(os.path.join(remnant, "part-00000-stale.parquet"), "wb") as fh:
        fh.write(b"stale bytes from a killed vacuum")  # never read: r3 <= floor
    run_crawl(spark, a, pages, robots, seeds, rounds=5, cfg=cv)
    assert round_dirs(a, "frontier_log") == ["round=000003", "round=000005"]
    ref, _, cn = unfolded_five_rounds
    assert _final_state(a, spark) == _final_state(ref, spark)  # remnant ignored
    # resume past the vacuumed history keeps working, and the r6 fold's
    # vacuum repairs the killed one: the round-3 remnant is gone
    run_crawl(spark, a, pages, robots, seeds, rounds=7, cfg=cv)
    shutil.copytree(ref.root, str(tmp_path / "novac"))
    b = crawl_store(str(tmp_path / "novac"), cn)
    run_crawl(spark, b, pages, robots, seeds, rounds=7, cfg=cn)
    assert _final_state(a, spark) == _final_state(b, spark)
    assert not os.path.exists(remnant)
    assert round_dirs(a, "frontier_log") == ["round=000007"]
    shutil.rmtree(str(tmp_path / "vac"))
    shutil.rmtree(str(tmp_path / "novac"))


@pytest.mark.parametrize(
    "compact_every,fold_max_tiers,vacuum",
    [
        (1, 1, True),   # fold EVERY round, always-major, vacuum — max pressure
        (1, 3, False),  # fold every round into a 3-tier stack (deep tombstone
                        # shadowing: every tier but the first carries dels)
        (3, 2, True),   # staggered minor/major folds with vacuum racing reads
    ],
)
def test_fold_schedule_sweep_equals_unfolded(
    spark, tmp_path, crawl_inputs, unfolded_five_rounds, compact_every, fold_max_tiers, vacuum
):
    """Fold-schedule property: ANY (compact_every, fold_max_tiers,
    vacuum_after_fold) combination reproduces the exact crawl of an
    unfolded store. The targeted tests pin one schedule each; this sweep
    covers the aggressive corners — fold-every-round (the un-folded window
    is empty at EVERY round boundary, so the tier-only live view and the
    drained-detection paths run constantly) and deep tier stacks (tier-vs-
    tier tombstone shadowing through 3 layers)."""
    pages, robots, seeds, cfg = crawl_inputs
    tag = f"{compact_every}_{fold_max_tiers}_{vacuum}"
    cn = dataclasses.replace(
        cfg,
        compact_every=compact_every,
        fold_max_tiers=fold_max_tiers,
        vacuum_after_fold=vacuum,
    )
    cn.extra["max_doc_id"] = cfg.extra["max_doc_id"]
    a, sa, _ = unfolded_five_rounds
    b = crawl_store(str(tmp_path / f"sw_new_{tag}"), cn)
    sb = run_crawl(spark, b, pages, robots, seeds, rounds=5, cfg=cn)
    assert sa == sb
    assert _final_state(a, spark) == _final_state(b, spark)
    shutil.rmtree(str(tmp_path / f"sw_new_{tag}"))


def test_delta_mode_commit_volume_tracks_churn_not_frontier(spark, unfolded_five_rounds):
    """The delta store's per-round frontier commit is bounded by round
    ACTIVITY (adds = retries + discovery winners; dels = scheduled +
    disallowed keys) — unchanged backlog rows are never rewritten."""
    from web_crawling_prj_spark.plans.crawl_round import live_frontier

    store, stats, cn = unfolded_five_rounds

    for s in stats:
        r = s["round_id"]
        log = store.read_round(spark, "frontier_log", r)
        n_add = log.where(~F.col("is_del")).count()
        n_del = log.where(F.col("is_del")).count()
        fetched = store.read_round(spark, "fetch_log", r).count()
        # dels = scheduled + robots-disallowed; disallowed only enters via
        # fresh discovery, so it is bounded by the previous round's adds
        assert n_del >= fetched
        # adds are bounded by round activity: every add is a retry (≤
        # scheduled) or a discovery winner (≤ links_per_page × ok-fetches)
        # or a re-added incumbent (≤ discovery winners)
        assert n_add <= fetched * (2 * cn.links_per_page + 1)
    # and the live view is still reconstructible after all that
    live = live_frontier(spark, store, 5, cn)
    assert live.count() > 0
    assert live.groupBy("url_hash").count().where("count > 1").count() == 0


def test_drained_frontier_yields_idle_round_not_crash(spark, tmp_path, crawl_inputs):
    """A delta store whose frontier legitimately drains (all tombstones,
    folded to an EMPTY tier — empty bucketed writes emit no files) must keep
    running idle rounds, not die in live_frontier with a missing-log error."""
    from web_crawling_prj_spark.plans.crawl_round import live_frontier

    pages, robots, seeds, cfg = crawl_inputs
    tiny = dataclasses.replace(cfg, links_per_page=0, compact_every=2, failure_per_mille=0)
    tiny.extra["max_doc_id"] = cfg.extra["max_doc_id"]
    few = seeds.limit(5)
    store = crawl_store(str(tmp_path / "drain"), tiny)
    stats = run_crawl(spark, store, pages, robots, few, rounds=6, cfg=tiny)
    assert stats[-1]["scheduled"] == 0  # fully drained, still committing rounds
    assert live_frontier(spark, store, 6, tiny).count() == 0
    shutil.rmtree(str(tmp_path / "drain"))


def test_live_frontier_of_empty_log_and_of_no_log(spark, tmp_path):
    """An empty committed frontier_log is an empty frontier, before and
    after it folds into an empty tier; a store that holds no frontier_log
    at all is refused."""
    from web_crawling_prj_spark.plans.crawl_round import (
        FRONTIER_LOG_COLS,
        _empty_frontier,
        live_frontier,
        resolve_frontier_log,
    )

    cfg = CrawlConfig(num_buckets=4)
    store = crawl_store(str(tmp_path / "empty_log"), cfg)
    log = _empty_frontier(spark).withColumns({"evt_round": F.lit(0), "is_del": F.lit(False)})
    store.commit_round(0, {"frontier_log": log.select(*FRONTIER_LOG_COLS)})
    assert live_frontier(spark, store, 0, cfg).count() == 0
    assert store.compact(spark, "frontier_log", resolver=resolve_frontier_log) == 0
    assert live_frontier(spark, store, 0, cfg).count() == 0

    seen_only = crawl_store(str(tmp_path / "seen_only"), cfg)
    seen_only.commit_round(0, {"seen_delta": spark.range(3).selectExpr("id AS url_hash")})
    with pytest.raises(ValueError, match="no frontier event log"):
        live_frontier(spark, seen_only, 0, cfg)


def test_tracking_param_aliases_collapse_before_seen(spark):
    """Round-6 wiring: utm/gclid-aliased seeds of one page dedup to ONE
    frontier row keyed on the cleaned canonical URL (tracking params never
    reach the seen-set); clean-URL semantics unchanged."""
    rows = [
        ("https://a.example/p?id=5&utm_source=nl&gclid=xyz", 0.9, 0),
        ("https://a.example/p?utm_campaign=q3&id=5", 0.5, 0),
        ("https://a.example/p?id=5", 0.7, 0),
        ("https://b.example/q?x=1", 0.4, 0),  # clean URL, untouched
    ]
    seeds = spark.createDataFrame(rows, "url string, priority double, depth int")
    f = frontier_from_seeds(seeds)
    got = {r.url_canon: r for r in f.collect()}
    assert set(got) == {"https://a.example/p?id=5", "https://b.example/q?x=1"}
    # the dedup kept the highest-priority alias's row
    assert got["https://a.example/p?id=5"].priority == 0.9


def test_redirect_chains_resolve_to_terminals(spark, tmp_path, crawl_inputs):
    """Round-6 wiring (VERDICT r5 next #4): with 3xx pages injected, the
    redirect SOURCE is terminal in the fetch log (class 'redirect', never
    refetched) and its chain's TERMINAL — not the intermediates — lands in
    the frontier and is fetched in a later round."""
    from web_crawling_prj_spark.operators.redirects import resolve_redirects

    pages, robots, seeds, base_cfg = crawl_inputs
    cfg = CrawlConfig(
        num_buckets=8, n_salts=4, max_per_host=25, default_budget=25,
        redirect_per_mille=250, redirect_max_hops=8,
    )
    cfg.extra["max_doc_id"] = base_cfg.extra["max_doc_id"]
    store = crawl_store(str(tmp_path / "redir"), cfg)
    # leak bound, checked after every round: the persistent RDDs are the
    # caller's caches plus at most ONE round's checkpoints (the resolved
    # churn, the three barriers, the redirect edges, hops and terminals) —
    # the previous round's are freed, the caller's cached ``pages`` never is
    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    cm = _cache_manager(spark)
    before = persistent()
    cached_before = cm.numCachedEntries()
    for r in (1, 2, 3):
        run_crawl(spark, store, pages, robots, seeds, rounds=r, cfg=cfg)
        held = {rdd.id() for rdd in round_checkpoints._rdds}
        assert 0 < len(held) <= 6 + cfg.redirect_max_hops - 1, held
        # the CacheManager holds no relation the round built: only the
        # caller's cached ``pages`` (and whatever was cached before)
        assert cm.numCachedEntries() == cached_before
        assert cm.lookupCachedData(pages._jdf).isDefined()
        now = persistent()
        assert held <= now
        cache = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(pages._jdf)
        pages_rdd = cache.get().cachedRepresentation().cacheBuilder().cachedColumnBuffers().id()
        assert now - held <= before | {pages_rdd}, (now, held, before)
        assert pages_rdd in now, "the caller's cached pages were freed"
    log = store.read_all(spark, "fetch_log")

    r3 = log.where(F.col("error_class") == "redirect")
    assert r3.count() > 0, "no redirects injected — raise redirect_per_mille"
    # a 3xx source is terminal: exactly one fetch ever, no retries
    assert r3.groupBy("url_canon").count().where("count > 1").count() == 0
    assert r3.where(F.col("can_retry")).count() == 0

    # terminals of round-1 chains appear in the round-2 fetch log (unless the
    # target was already seen in round 1 or lost the budget race — so assert
    # on a positive subset: at least one resolved terminal got fetched later)
    edges = r3.where(F.col("round_id") == 1).select(
        F.col("url_canon").alias("src"), F.col("redirect_to").alias("dst")
    )
    resolved = resolve_redirects(edges, max_hops=8)
    terms = {r.final for r in resolved.where("terminated").collect()}
    later = {
        r.url_canon for r in log.where(F.col("round_id") > 1).select("url_canon").collect()
    }
    assert terms, "round-1 chains resolved to no terminals"
    assert terms & later, "no resolved terminal was ever fetched in a later round"

    # intermediates (3xx pages) never re-enter the frontier: live view is
    # disjoint from redirect sources
    from web_crawling_prj_spark.plans.crawl_round import live_frontier

    live = live_frontier(spark, store, 3, cfg)
    srcs = r3.select(F.col("url_canon").alias("u")).distinct()
    assert live.join(srcs, live["url_canon"] == srcs["u"], "left_semi").count() == 0
