"""Physical-plan shape regression tests.

Correctness tests prove the VALUES; these prove the PLANS stay the ones a
100 TB deployment needs: filters and projections reach the parquet scan,
small sides broadcast (never shuffle the big side), the frontier anti-join
shuffles at most once per side, and the politeness rank costs exactly its
two designed exchanges. A regression here is invisible to value tests at
sf0.01 and a job-killer at scale.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def explain_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def n_shuffles(df) -> int:
    """Count shuffle exchanges (simple mode keeps partitioning on the node line)."""
    return explain_str(df, mode="simple").count("Exchange hashpartitioning")


def test_parquet_scan_pushdown_and_pruning(spark, sf_dir):
    """Filter pushdown + column pruning reach the documents scan."""
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") < 100)
        .select("doc_id", "lang")
    )
    plan = explain_str(d)
    assert "PushedFilters" in plan and "LessThan(doc_id,100)" in plan, plan
    # ReadSchema must not include the wide text column
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema and "doc_id" in read_schema, read_schema


def test_robots_gate_broadcasts_rules(spark, sf_dir):
    """gate_frontier: per-host rules broadcast; the frontier side never
    shuffles for the gate."""
    from web_crawling_prj_spark.operators.robots import gate_frontier
    from web_crawling_prj_spark.sources.pages_gen import robots_df

    frontier = spark.range(1000).select(
        F.format_string("https://host-%04d.example/doc/%d", F.pmod("id", F.lit(50)), "id").alias("url_canon"),
        F.format_string("host-%04d.example", F.pmod("id", F.lit(50))).alias("host"),
    )
    gated = gate_frontier(frontier, robots_df(spark))
    plan = explain_str(gated)
    assert "BroadcastHashJoin" in plan, plan
    assert n_shuffles(gated) == 0, explain_str(gated, "simple")  # no shuffle at all


def _ancestors(plan: str, marker: str) -> list[str]:
    """Node lines of a simple-mode plan tree above the first line holding
    ``marker``, nearest first."""
    lines = plan.splitlines()
    i = next(k for k, line in enumerate(lines) if marker in line)
    depth = lambda line: len(line) - len(line.lstrip(" :+-"))  # noqa: E731
    d, out = depth(lines[i]), []
    for line in reversed(lines[:i]):
        if line.strip() and depth(line) < d:
            out.append(line.strip(" :+-"))
            d = depth(line)
    return out


def test_fetch_join_never_moves_the_page_store(spark, tmp_path):
    """synthetic_fetch: the pages scan meets the broadcast batch keys in a
    LeftSemi BroadcastHashJoin before anything else — no BroadcastExchange
    or Exchange sits between the pages scan and that join, so the page
    store is cut to the batch before any row of it moves (a left outer join
    of the batch against the pages would build its hash table on the page
    store)."""
    from web_crawling_prj_spark.operators.fetch import synthetic_fetch

    spark.range(5_000).select(
        F.format_string("https://h%d.example/doc/%d", F.pmod("id", F.lit(50)), "id").alias("url"),
        F.lit("2025-01-01").cast("timestamp").alias("warc_ts"),
        F.encode(F.format_string("<html><p>doc %d</p></html>", "id"), "utf-8").alias("html"),
        F.format_string("doc %d", "id").alias("text"),
        F.lit("en").alias("lang"),
        F.col("id").alias("doc_id"),
    ).write.parquet(str(tmp_path / "pages"))
    pages = spark.read.parquet(str(tmp_path / "pages"))
    batch = spark.range(0, 10_000, 97).select(
        F.format_string("https://h%d.example/doc/%d", F.pmod("id", F.lit(50)), "id").alias("url_canon"),
        F.xxhash64("id").alias("url_hash"),
        F.format_string("h%d.example", F.pmod("id", F.lit(50))).alias("host"),
        F.lit(0.5).alias("priority"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("attempt"),
        F.lit(0).cast("long").alias("fetch_offset_ms"),
        F.lit(0).alias("proxy_slot"),
    )
    fetched = synthetic_fetch(batch, pages, 1, "2025-06-01 00:00:00")
    plan = explain_str(fetched, "simple")
    assert plan.count("FileScan parquet") == 1, plan
    up = _ancestors(plan, "FileScan parquet")
    join = next(k for k, node in enumerate(up) if "Join" in node)
    assert "BroadcastHashJoin" in up[join] and "LeftSemi, BuildRight" in up[join], up
    assert not any("Exchange" in node for node in up[:join]), up
    # every batch row comes back once: the 52 ids below 5000 hit a page,
    # the other 52 are 404s
    codes = [r.http_code for r in fetched.collect()]
    assert len(codes) == 104 and codes.count(404) == 52, codes


def test_anti_join_is_single_shuffle_hash_join(spark):
    """frontier ∖ seen: one exchange per side, LeftAnti, hash join (never
    sort-merge — no sort of the 100 TB side)."""
    from web_crawling_prj_spark.operators.dedup import anti_join_seen

    frontier = spark.range(10_000).select(F.xxhash64("id").alias("url_hash"), F.col("id").alias("x"))
    seen = spark.range(3_000).select(F.xxhash64("id").alias("url_hash"))
    aj = anti_join_seen(frontier, seen)
    plan = explain_str(aj)
    assert "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert n_shuffles(aj) <= 2, explain_str(aj, "simple")


def test_politeness_schedule_costs_two_exchanges(spark):
    """Two-level salted rank = exactly its two designed exchanges
    ((host,salt) then (host)); budgets broadcast, never shuffled."""
    from web_crawling_prj_spark.operators.politeness import host_budgets, schedule_round

    pending = spark.range(10_000).select(
        F.xxhash64("id").alias("url_hash"),
        F.format_string("h%d", F.pmod("id", F.lit(97))).alias("host"),
        (F.col("id") % 1000 / 1000.0).alias("priority"),
    )
    robots = spark.range(97).select(
        F.format_string("h%d", "id").alias("host"), F.lit(500).alias("crawl_delay_ms")
    )
    budgets = host_budgets(robots, 30_000, max_per_host=40)
    sched = schedule_round(pending, budgets, n_salts=8)
    plan = explain_str(sched)
    assert n_shuffles(sched) == 2, explain_str(sched, "simple")
    assert "BroadcastHashJoin" in plan, plan  # budgets join
    assert "SortMergeJoin" not in plan, plan


def test_brute_force_topk_never_shuffles_embeddings(spark, sf_dir):
    """Exact top-k: queries broadcast (nested-loop over the scored rows),
    the embedding table is scanned once; the ONLY exchange is the per-query
    rank window over scored rows."""
    from web_crawling_prj_spark.operators.similarity import brute_force_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    bf = brute_force_topk(e, q, k=5)
    plan = explain_str(bf)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert n_shuffles(bf) == 1, explain_str(bf, "simple")


def test_scd2_rebuild_single_exchange(spark, sf_dir):
    """All four SCD2 window columns share one (pk) exchange — the ascending
    and descending ranks must not each repartition."""
    from web_crawling_prj_spark.operators.scd2 import scd2_rebuild_from_history

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").cast("timestamp").alias("created_at")
    )
    rb = scd2_rebuild_from_history(o, ["o_custkey"], "created_at", tiebreak_cols=["o_orderkey"])
    assert n_shuffles(rb) == 1, explain_str(rb, "simple")


def test_exact_dedup_is_partial_aggregable(spark, sf_dir):
    """Tier-1 exact dedup: hash-groupBy with map-side partial aggregation
    (two HashAggregate stages around one exchange) — the shape that scales."""
    from web_crawling_prj_spark.operators.textdedup import dedup_exact

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = explain_str(dedup_exact(d))
    assert "HashAggregate" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bucketed_seen_set_anti_join_is_shuffle_free(spark, tmp_path):
    """The 100 TB steady-state layout: frontier and seen-set stored BUCKETED
    on url_hash → the per-round anti-join needs ZERO exchanges (each task
    reads its own bucket from both sides). This is the layout StateStore
    models with pmod-bucket repartitioning and an Iceberg/bucketed table
    provides for real."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        fr = spark.range(10_000).select(F.xxhash64("id").alias("url_hash"), F.col("id").alias("x"))
        seen = spark.range(3_000).select(F.xxhash64("id").alias("url_hash"))
        fr.write.mode("overwrite").bucketBy(8, "url_hash").saveAsTable("plan_fr_bkt")
        seen.write.mode("overwrite").bucketBy(8, "url_hash").saveAsTable("plan_seen_bkt")
        aj = spark.table("plan_fr_bkt").join(spark.table("plan_seen_bkt"), "url_hash", "left_anti")
        assert n_shuffles(aj) == 0, explain_str(aj, "simple")
        assert aj.count() == 7_000  # and it is still the right answer
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS plan_fr_bkt")
        spark.sql("DROP TABLE IF EXISTS plan_seen_bkt")


def test_delta_mode_pending_plan_never_touches_base_with_a_shuffle(spark, sf_dir, tmp_path):
    """Frontier-delta steady state (round 4): with broadcasts off, the
    pending plan's BASE branch is one bucketed parquet scan merged against
    the co-located recent-churn keys — no shuffle of the base, no seen-set
    join at read time (the log is kept seen-clean at write time) — and the
    eligibility filter is PUSHED DOWN into the base scan. The only exchanges
    in the whole plan move the resolved recent churn (delta-sized), never
    the 10^10-row backlog."""
    from web_crawling_prj_spark.plans.crawl_round import (
        CrawlConfig,
        crawl_store,
        pending_frontier,
        round_checkpoints,
        run_crawl,
    )
    from web_crawling_prj_spark.sources.pages_gen import pages_df, robots_df, seeds_df

    pages, robots, seeds = pages_df(spark, sf_dir), robots_df(spark), seeds_df(spark, sf_dir)
    cfg = CrawlConfig(num_buckets=8, n_salts=4, compact_every=3)
    cfg.extra["max_doc_id"] = 10_000
    store = crawl_store(str(tmp_path / "dlt"), cfg)
    run_crawl(spark, store, pages, robots, seeds, rounds=5, cfg=cfg)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        pending = pending_frontier(spark, store, 6, cfg)
        plan = explain_str(pending, "simple")
        # exchanges move ONLY the recent churn: one repartition feeding the
        # latest-event resolution per consumer (recent branch + base's
        # tombstone keys), both REPARTITION_BY_NUM over the per-round logs
        assert plan.count("Exchange hashpartitioning") == 2, plan
        assert plan.count("REPARTITION_BY_NUM") == 2, plan
        # the base tier joins through a co-located merge anti-join: no
        # broadcast, and no planner-inserted exchange on either side
        assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan
        assert "BroadcastExchange" not in plan, plan
        assert "ENSURE_REQUIREMENTS" not in plan, plan
        # no seen-set table anywhere in the read plan
        assert "seen_delta" not in plan, plan
        # eligibility predicate AND the tombstone filter both reached the
        # base parquet scan (tiered folds: a tier may carry is_del rows)
        fmt = explain_str(pending, "formatted")
        assert "frontier_log__base" in fmt, fmt
        assert "Or(IsNull(next_eligible_ts)" in fmt, fmt
        assert "Not(EqualTo(is_del,true))" in fmt, fmt
        # pagerank ON must not degrade the pending plan (the blend runs at
        # the scheduling stage — VERDICT r3 'wrong' #2)
        import dataclasses

        cfg_pr = dataclasses.replace(cfg, pagerank_weight=0.4)
        cfg_pr.extra["max_doc_id"] = cfg.extra["max_doc_id"]
        pending_pr = pending_frontier(spark, store, 6, cfg_pr)
        plan_pr = explain_str(pending_pr, "simple")
        assert plan_pr.count("Exchange hashpartitioning") == 2, plan_pr
        assert "seen_delta" not in plan_pr and "fetch_log" not in plan_pr, plan_pr
        # the plan the crawl runs: run_round passes the round's checkpoint
        # holder, so the resolved churn is a lazy localCheckpoint. Its RDD
        # scan does not report the HashPartitioning it was built with, so
        # the planner re-shuffles the churn KEYS to the base's buckets —
        # one delta-sized ENSURE_REQUIREMENTS exchange over the checkpoint.
        # The base side still reaches its merge anti-join with no exchange:
        # the backlog never moves
        round_checkpoints.release(spark)
        pending_p = pending_frontier(spark, store, 6, cfg, checkpoint=round_checkpoints.checkpoint)
        try:
            plan_p = explain_str(pending_p, "simple")
            assert len(round_checkpoints._rdds) == 1 and "Scan ExistingRDD" in plan_p, plan_p
            up = _ancestors(plan_p, "frontier_log_base")
            join = next(k for k, node in enumerate(up) if "Join" in node)
            assert "SortMergeJoin" in up[join] and "LeftAnti" in up[join], up
            assert not any("Exchange" in node for node in up[:join]), up
            assert plan_p.count("ENSURE_REQUIREMENTS") == 1, plan_p
            assert plan_p.count("Scan ExistingRDD") == 2, plan_p
            assert "BroadcastExchange" not in plan_p, plan_p
            assert "seen_delta" not in plan_p, plan_p
            assert sorted(pending_p.collect(), key=lambda r: r.url_hash) == sorted(
                pending.collect(), key=lambda r: r.url_hash
            )
        finally:
            round_checkpoints.release(spark)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_tiered_delta_live_view_two_regimes_plan_shape(spark, sf_dir, tmp_path):
    """Tiered frontier folds (round 5): with MULTIPLE base tiers the pending
    plan reads each tier through ONE pushed-down bucketed scan. The tier-vs-
    tier shadowing and recent-churn key joins carry no hints, so Spark's
    autoBroadcastJoinThreshold chooses: under the default the toy churn
    broadcasts; at -1 every join is a co-located merge. In BOTH plans every
    hash exchange is a designed REPARTITION_BY_NUM over the delta-sized
    churn; the planner never inserts an ENSURE_REQUIREMENTS exchange — i.e.
    the backlog side never moves. And the two plans return identical rows."""
    from web_crawling_prj_spark.plans.crawl_round import (
        CrawlConfig,
        crawl_store,
        pending_frontier,
        run_crawl,
    )
    from web_crawling_prj_spark.sources.pages_gen import pages_df, robots_df, seeds_df

    pages, robots, seeds = pages_df(spark, sf_dir), robots_df(spark), seeds_df(spark, sf_dir)
    cfg = CrawlConfig(num_buckets=8, n_salts=4, compact_every=2, fold_max_tiers=3)
    cfg.extra["max_doc_id"] = 10_000
    store = crawl_store(str(tmp_path / "tiers"), cfg)
    run_crawl(spark, store, pages, robots, seeds, rounds=5, cfg=cfg)
    assert [t["upto"] for t in store.tiers("frontier_log")] == [2, 4]

    # default threshold: the toy churn is far below it, so Spark broadcasts
    pending = pending_frontier(spark, store, 6, cfg)
    plan = explain_str(pending, "simple")
    assert "frontier_log_base_000002" in plan and "frontier_log_base_000004" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == plan.count("REPARTITION_BY_NUM"), plan
    assert "ENSURE_REQUIREMENTS" not in plan, plan
    rows = sorted(pending.collect(), key=lambda r: r.url_hash)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # broadcasts off: zero broadcast, the co-located merge everywhere,
        # still no planner-inserted exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        pending_m = pending_frontier(spark, store, 6, cfg)
        plan_m = explain_str(pending_m, "simple")
        assert "BroadcastExchange" not in plan_m, plan_m
        assert "SortMergeJoin" in plan_m, plan_m
        assert plan_m.count("Exchange hashpartitioning") == plan_m.count(
            "REPARTITION_BY_NUM"
        ), plan_m
        assert "ENSURE_REQUIREMENTS" not in plan_m, plan_m
        # physical choice only: identical pending rows either way
        assert sorted(pending_m.collect(), key=lambda r: r.url_hash) == rows
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_spark_union_bucketed_partitioning_guard(spark):
    """Regression guard for an upstream Spark 4.1.2 wrong-results bug: with
    spark.sql.unionOutputPartitioning=true (upstream default), a Union of two
    co-bucketed table scans claims its children's HashPartitioning although
    Union CONCATENATES partitions, so a downstream distinct/groupBy elides
    its exchange (even an explicit repartition!) and returns duplicates.
    session.get_spark pins the conf off; this test proves the session gives
    right answers and documents the repro."""
    assert spark.conf.get("spark.sql.unionOutputPartitioning") == "false"
    a = spark.range(1000).select(F.col("id").alias("k"))
    b = spark.range(500, 1500).select(F.col("id").alias("k"))
    try:
        for n, df in [("ubg_a", a), ("ubg_b", b)]:
            spark.sql(f"DROP TABLE IF EXISTS {n}")
            df.repartition(8, "k").write.mode("overwrite").bucketBy(8, "k").sortBy(
                "k"
            ).saveAsTable(n)
        u = spark.table("ubg_a").unionByName(spark.table("ubg_b"))
        assert u.distinct().count() == 1500  # 2000 under the upstream default
        assert u.groupBy("k").count().where("count = 2").count() == 500
    finally:
        spark.sql("DROP TABLE IF EXISTS ubg_a")
        spark.sql("DROP TABLE IF EXISTS ubg_b")


def test_union_guard_enforced_at_library_level(spark, tmp_path):
    """The union-partitioning wrong-results guard must hold under ANY
    caller-built session, not only wcp.session.get_spark (CORRECTNESS_r06:
    the driver's own harness session reproduced 243-vs-201 duplicate fetch
    rows in crawl_rounds_replay because only the session factory set the
    conf). statestore.guard_union_partitioning is called from every bucketed
    tier catalog-read choke point and from run_crawl; this test folds two
    rounds of a bucketed table into two minor tiers, flips the conf to the
    buggy upstream default mid-session, unions the two tier reads
    ``read_parts`` returns, and asserts both the corrected conf and exact
    results."""
    from web_crawling_prj_spark.plans.statestore import StateStore

    store = StateStore(str(tmp_path / "ug_store"), bucket_spec={"t": ("k", 8)})
    a = spark.range(1000).select(F.col("id").alias("k"))
    b = spark.range(500, 1500).select(F.col("id").alias("k"))
    store.commit_round(0, {"t": a.repartition(8, "k")})
    store.commit_round(1, {"t": b.repartition(8, "k")})
    assert store.compact(spark, "t", up_to=0, max_tiers=2) == 0
    assert store.compact(spark, "t", up_to=1, max_tiers=2) == 1  # minor
    spark.conf.set("spark.sql.unionOutputPartitioning", "true")
    try:
        bases, deltas = store.read_parts(spark, "t")
        assert len(bases) == 2 and deltas == []
        u = bases[0].unionByName(bases[1])
        # read_parts' tier registration path must have re-pinned the guard
        assert spark.conf.get("spark.sql.unionOutputPartitioning") == "false"
        assert u.distinct().count() == 1500
        assert u.groupBy("k").count().where("count = 2").count() == 500
    finally:
        spark.conf.set("spark.sql.unionOutputPartitioning", "false")
