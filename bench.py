"""Benchmark: north metric (URLs scheduled+deduped/sec) + headline query timings.

Prints ONE JSON line:
  {"metric": "urls_scheduled_deduped_per_sec", "value": <rate>, "unit": "urls/sec",
   "queries": {<name>: seconds, ...}, "sf": <sf>, ...}

The north workload is the frontier core at bench scale: a deterministic
synthetic frontier of N URLs (skewed hosts, BASELINE.json shape) is hashed,
anti-joined against a seen-set covering ~40% of it, politeness-ranked (salted
two-level top-k per host), and counted. rate = N / wall.

Env:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     cores for local[N] (default 32)
  SPARK_GRAFT_BENCH_URLS  frontier size (default 2_000_000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from web_crawling_prj_spark.functions.hashing import url_hash
from web_crawling_prj_spark.operators.bloom import broadcast_bloom, build_sharded_bloom
from web_crawling_prj_spark.operators.dedup import anti_join_seen
from web_crawling_prj_spark.operators.politeness import schedule_round
from web_crawling_prj_spark.session import get_spark

N_HOSTS = 9973
HOT_PCT = 20  # % of URLs on one hot host — the skew the salted rank must defeat


def synthetic_frontier(spark, n: int, lo: int = 0):
    """Deterministic frontier of URLs with ids in [lo, n): url/host/priority,
    Zipf-ish host skew. Every bench derives its rows HERE so they all measure
    the same distribution (the skew drives the politeness-rank cost)."""
    base = spark.range(lo, n)
    mixed = F.pmod(F.col("id") * 2654435761 + 42, F.lit(2**31 - 1))
    host_id = F.when(mixed % 100 < HOT_PCT, F.lit(0)).otherwise(mixed % N_HOSTS)
    host = F.format_string("host-%05d.example", host_id)
    url = F.format_string("https://%s/p/%d?id=%d&ref=bench", host, F.col("id"), F.col("id"))
    return base.select(
        url.alias("url_canon"),
        host.alias("host"),
        (mixed % 100_000 / 100_000.0).alias("priority"),
        url_hash(url).alias("url_hash"),
    )


def bench_frontier_core(spark, n: int, n_salts: int = 16, budget: int = 100) -> dict:
    frontier = synthetic_frontier(spark, n)
    # seen-set: every url whose id ≡ 0,1 (mod 5) plus a disjoint tail → ~40% dup rate
    seen = (
        spark.range(n)
        .where(F.pmod("id", F.lit(5)) < 2)
        .select(
            url_hash(
                F.format_string(
                    "https://%s/p/%d?id=%d&ref=bench",
                    F.format_string(
                        "host-%05d.example",
                        F.when(
                            F.pmod(F.col("id") * 2654435761 + 42, F.lit(2**31 - 1)) % 100 < HOT_PCT,
                            F.lit(0),
                        ).otherwise(F.pmod(F.col("id") * 2654435761 + 42, F.lit(2**31 - 1)) % N_HOSTS),
                    ),
                    F.col("id"),
                    F.col("id"),
                )
            ).alias("url_hash")
        )
    )
    budgets = spark.range(0).select(
        F.lit("x").alias("host"), F.lit(budget).alias("max_per_round"), F.lit(100).alias("crawl_delay_ms")
    )
    # The bloom is built untimed and reported separately (a seen-set filter
    # is maintained across rounds, not rebuilt per round). The timed region
    # is bloom-probe → exact anti-join on survivors → salted politeness rank.
    t0 = time.time()
    bloom = build_sharded_bloom(
        seen, num_shards=32, expected_per_shard=max(1000, n // 64), fpp=0.01
    )
    bloom_build_s = round(time.time() - t0, 3)
    bcast = broadcast_bloom(spark, bloom)
    t0 = time.time()
    pending = anti_join_seen(frontier, seen, bloom=bloom, bloom_bcast=bcast)
    scheduled = schedule_round(pending, budgets, n_salts=n_salts, default_budget=budget)
    n_sched = scheduled.count()
    wall = time.time() - t0
    bcast.destroy()  # release the executors' bitmap copies
    return {
        "n_input": n,
        "n_scheduled": n_sched,
        "wall_s": round(wall, 3),
        "rate": round(n / wall, 1),
        "bloom": True,
        "bloom_build_s": bloom_build_s,
    }


def bench_frontier_core_bucketed(
    spark,
    n: int,
    n_salts: int = 16,
    budget: int = 100,
    num_buckets: int = 32,
    runs: int = 5,
    schedule: bool = True,
) -> dict:
    """Steady-state frontier core on the ROUND-3 layout: frontier and seen-set
    stored as bucketed+sorted tables on url_hash (what crawl_store maintains
    incrementally), so the per-round anti-join is a zero-exchange, zero-sort
    streaming merge and the only shuffles left are the politeness rank's two
    designed exchanges. Setup (writing the layout) is UNTIMED — the crawl
    amortizes it: every round's commit writes its outputs already bucketed.
    Timed region per run: scan both tables → merge anti-join → salted two-level
    politeness rank → count."""
    import shutil

    base = f"/dev/shm/wcp-bench-bkt-{os.getpid()}"
    shutil.rmtree(base, ignore_errors=True)
    frontier = synthetic_frontier(spark, n)
    # ~40% of the frontier is already seen (pmod is non-negative for any long,
    # unlike abs() which ANSI-overflows on MIN_LONG)
    seen = frontier.where(F.pmod(F.col("url_hash"), F.lit(5)) < 2).select("url_hash")
    t0 = time.time()
    for name, df in [("bench_fr_bkt", frontier), ("bench_seen_bkt", seen)]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.repartition(num_buckets, "url_hash")
            .write.mode("overwrite")
            .option("path", f"{base}/{name}")
            .bucketBy(num_buckets, "url_hash")
            .sortBy("url_hash")
            .saveAsTable(name)
        )
    setup_s = round(time.time() - t0, 3)
    budgets = spark.range(0).select(
        F.lit("x").alias("host"), F.lit(budget).alias("max_per_round"), F.lit(100).alias("crawl_delay_ms")
    )
    walls = []
    n_sched = 0
    try:
        for _ in range(runs):
            t0 = time.time()
            pending = spark.table("bench_fr_bkt").join(
                spark.table("bench_seen_bkt"), "url_hash", "left_anti"
            )
            # schedule=False isolates the shuffle-free dedup stage for the
            # per-stage scaling accounting: full-core minus this is exactly
            # the politeness rank's two designed exchanges
            out = (
                schedule_round(pending, budgets, n_salts=n_salts, default_budget=budget)
                if schedule
                else pending
            )
            n_sched = out.count()
            walls.append(round(time.time() - t0, 3))
    finally:
        spark.sql("DROP TABLE IF EXISTS bench_fr_bkt")
        spark.sql("DROP TABLE IF EXISTS bench_seen_bkt")
        shutil.rmtree(base, ignore_errors=True)
    wall = min(walls)
    return {
        "n_input": n,
        "n_scheduled": n_sched,
        "wall_s": wall,
        "walls_all": walls,
        "rate": round(n / wall, 1),
        "layout_setup_s": setup_s,
        "num_buckets": num_buckets,
    }



# --- shared helpers for the frontier state benches (commit + fold) ---

#: (col, type) pairs a tombstone row nulls out — FRONTIER_COLS minus url_hash
_FRONTIER_NULL_STATE = [
    ("url", "string"),
    ("url_canon", "string"),
    ("host", "string"),
    ("priority", "double"),
    ("depth", "int"),
    ("discovered_ts", "timestamp"),
    ("src_url_hash", "long"),
    ("attempt", "int"),
    ("next_eligible_ts", "timestamp"),
]


def _bench_frontier_rows(spark, lo: int, hi: int):
    """synthetic_frontier widened to the crawl's full FRONTIER_COLS schema."""
    return synthetic_frontier(spark, hi, lo=lo).select(
        F.col("url_canon").alias("url"),
        "url_canon",
        "url_hash",
        "host",
        "priority",
        F.lit(0).alias("depth"),
        F.lit(None).cast("timestamp").alias("discovered_ts"),
        F.lit(None).cast("long").alias("src_url_hash"),
        F.lit(0).alias("attempt"),
        F.lit(None).cast("timestamp").alias("next_eligible_ts"),
    )


def _bench_del_rows(keys_df, r: int):
    """url_hash keys → frontier_log tombstone rows for round ``r``."""
    from web_crawling_prj_spark.plans.crawl_round import FRONTIER_LOG_COLS

    return keys_df.select(
        "url_hash",
        *[F.lit(None).cast(t).alias(c) for c, t in _FRONTIER_NULL_STATE],
        F.lit(r).alias("evt_round"),
        F.lit(True).alias("is_del"),
    ).select(*FRONTIER_LOG_COLS)


def _bench_dir_bytes(path: str) -> int:
    """TOTAL on-disk footprint (every file, not just parquet — the write-amp
    benches charge manifests/markers too)."""
    total = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            total += os.path.getsize(os.path.join(dp, fn))
    return total


def bench_frontier_commit(
    spark, n: int, churn: int, rounds: int = 3, num_buckets: int = 32
) -> dict:
    """Per-round frontier WRITE cost of the delta log on a standing backlog:
    each round commits only its churn (adds + tombstones), never the backlog.

    Mirrors run_round's state plumbing: each round reconstructs the live
    view, 'schedules' a deterministic churn-sized batch (tombstones),
    discovers churn new URLs (adds), and commits them. Reports per-round wall
    + bytes written. (The full-rewrite comparison arm is retired with the
    full-rewrite frontier mode; its last result, 70.4× write amplification,
    is on record in BENCH_r07.json.)"""
    import shutil

    from web_crawling_prj_spark.plans.crawl_round import (
        FRONTIER_LOG_COLS,
        CrawlConfig,
        crawl_store,
        live_frontier,
        resolve_frontier_log,
    )

    out = {"n": n, "churn": churn, "rounds": rounds}
    root = f"/dev/shm/wcp-bench-commit-{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    cfg = CrawlConfig(num_buckets=num_buckets)
    store = crawl_store(root, cfg)
    try:
        log0 = (
            _bench_frontier_rows(spark, 0, n)
            .repartition(num_buckets, "url_hash")
            .withColumns({"evt_round": F.lit(0), "is_del": F.lit(False)})
            .select(*FRONTIER_LOG_COLS)
        )
        empty_seen = spark.createDataFrame(
            [], "url_hash long, bucket int, first_seen_round int, first_seen_ts timestamp"
        )
        store.commit_round(0, {"frontier_log": log0, "seen_delta": empty_seen})
        # steady state starts from a folded base (the crawl folds every
        # compact_every rounds)
        store.compact(
            spark, "frontier_log", up_to=0, max_tiers=1, resolver=resolve_frontier_log
        )
        walls, bytes_per_round = [], []
        for r in range(1, rounds + 1):
            t0 = time.time()
            live = live_frontier(spark, store, r - 1, cfg)
            # deterministic churn-sized 'scheduled' batch + churn discoveries
            sched_keys = live.where(
                F.pmod(F.xxhash64("url_hash", F.lit(r)), F.lit(max(1, n // churn))) == 0
            ).select("url_hash")
            adds = _bench_frontier_rows(spark, n + r * churn, n + (r + 1) * churn)
            log_r = (
                adds.withColumns({"evt_round": F.lit(r), "is_del": F.lit(False)})
                .select(*FRONTIER_LOG_COLS)
                .unionByName(_bench_del_rows(sched_keys, r))
                .repartition(num_buckets, "url_hash")
            )
            store.commit_round(r, {"frontier_log": log_r})
            walls.append(round(time.time() - t0, 3))
            bytes_per_round.append(_bench_dir_bytes(store._table_round_dir("frontier_log", r)))
        out["delta"] = {
            "round_walls_s": walls,
            "round_bytes": bytes_per_round,
            "mb_per_round": [round(b / 1e6, 2) for b in bytes_per_round],
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)
        for t in spark.sql(f"SHOW TABLES LIKE '{store._prefix}*'").collect():
            spark.sql(f"DROP TABLE {t.tableName}")
    return out


def bench_frontier_fold(
    spark, n: int, churn: int, rounds: int = 4, num_buckets: int = 32
) -> dict:
    """Round-5 headline: frontier-log FOLD cost — tiered MINOR fold (reads +
    writes only the un-folded round window, O(rounds·churn)) vs the MAJOR
    fold (rewrites the whole live backlog, O(n)) — on the same store state.
    With CrawlConfig.fold_max_tiers=T the major fold runs once every T·K
    rounds, so per-round amortized fold cost drops from O(n/K) (round-4
    always-major) to O(churn) + O(n/(T·K))."""
    import shutil

    from web_crawling_prj_spark.plans.crawl_round import (
        FRONTIER_LOG_COLS,
        CrawlConfig,
        crawl_store,
        resolve_frontier_log,
    )

    root = f"/dev/shm/wcp-bench-fold-{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    cfg = CrawlConfig(num_buckets=num_buckets)
    store = crawl_store(root, cfg)
    out = {"n": n, "churn": churn, "window_rounds": rounds}
    try:
        log0 = (
            _bench_frontier_rows(spark, 0, n)
            .withColumns({"evt_round": F.lit(0), "is_del": F.lit(False)})
            .select(*FRONTIER_LOG_COLS)
            .repartition(num_buckets, "url_hash")
        )
        store.commit_round(0, {"frontier_log": log0})
        store.compact(
            spark, "frontier_log", up_to=0, max_tiers=4, resolver=resolve_frontier_log
        )  # terminal first tier = the standing backlog
        for r in range(1, rounds + 1):
            adds = _bench_frontier_rows(spark, n + r * churn, n + (r + 1) * churn)
            dels = _bench_del_rows(
                synthetic_frontier(spark, (r + 1) * churn, lo=r * churn).select("url_hash"), r
            )
            log_r = (
                adds.withColumns({"evt_round": F.lit(r), "is_del": F.lit(False)})
                .select(*FRONTIER_LOG_COLS)
                .unionByName(dels)
                .repartition(num_buckets, "url_hash")
            )
            store.commit_round(r, {"frontier_log": log_r})
        # MINOR fold: only the R-round churn window moves
        t0 = time.time()
        store.compact(
            spark, "frontier_log", up_to=rounds, max_tiers=4, resolver=resolve_frontier_log
        )
        minor_wall = time.time() - t0
        minor_bytes = _bench_dir_bytes(store._base_dir("frontier_log", rounds))
        # MAJOR fold: one more round, then force tier merge — the whole
        # backlog is rewritten (what EVERY fold cost before round 5)
        extra = (
            _bench_frontier_rows(spark, n + (rounds + 1) * churn, n + (rounds + 2) * churn)
            .withColumns({"evt_round": F.lit(rounds + 1), "is_del": F.lit(False)})
            .select(*FRONTIER_LOG_COLS)
            .repartition(num_buckets, "url_hash")
        )
        store.commit_round(rounds + 1, {"frontier_log": extra})
        t0 = time.time()
        store.compact(
            spark,
            "frontier_log",
            up_to=rounds + 1,
            max_tiers=1,
            resolver=resolve_frontier_log,
        )
        major_wall = time.time() - t0
        major_bytes = _bench_dir_bytes(store._base_dir("frontier_log", rounds + 1))
        out["minor"] = {
            "wall_s": round(minor_wall, 3),
            "bytes": minor_bytes,
            "mb": round(minor_bytes / 1e6, 2),
        }
        out["major"] = {
            "wall_s": round(major_wall, 3),
            "bytes": major_bytes,
            "mb": round(major_bytes / 1e6, 2),
        }
        out["fold_bytes_major_vs_minor"] = round(major_bytes / max(1, minor_bytes), 1)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        for t in spark.sql(f"SHOW TABLES LIKE '{store._prefix}*'").collect():
            spark.sql(f"DROP TABLE {t.tableName}")
    return out


def _scaling_child(cores: int, n: int) -> None:
    """Subprocess entry: run the frontier core on a fresh local[cores] JVM and
    print its stats as one JSON line (north-rule two-cluster-size evidence:
    same job + same input at N and 4N parallelism).

    Also emits a CPU-calibration run (allocation-free chained hashing): this
    sandbox VM caps aggregate memory bandwidth at ~3.8 GB/s — saturated by 8
    cores — so byte-moving stages cannot scale past ~1.5-2× on it no matter the
    plan. The calibration row shows the thread-scaling ceiling the hardware
    itself allows (measured ~0.81), which a real 4N-executor cluster (4× memory
    channels, 4× local disks) would not impose.
    """
    spark = get_spark(f"wcp-scale-{cores}", cores=cores, shuffle_partitions=cores)
    # warm the JVM/codegen with a small run so the measured run is steady-state
    bench_frontier_core(spark, 50_000)
    bench_frontier_core_bucketed(spark, 50_000, runs=1)
    # the headline scaling workload is the BUCKETED steady-state core — the
    # layout the crawl actually maintains (round 3); best-of-5 inside
    res = bench_frontier_core_bucketed(spark, n, runs=5)
    # per-stage accounting: the dedup stage alone (zero-exchange merge join)
    # vs the full core — the difference is the politeness rank's exchanges
    res["dedup_only"] = bench_frontier_core_bucketed(spark, n, runs=5, schedule=False)
    # legacy exchange-bound core kept for round-over-round comparability
    legacy = [bench_frontier_core(spark, n) for _ in range(3)]
    res["unbucketed"] = min(legacy, key=lambda r: r["wall_s"])
    res["unbucketed"]["walls_all"] = [r["wall_s"] for r in legacy]
    expr = F.col("id")
    for _ in range(64):
        expr = F.xxhash64(expr)
    calib = []
    for _ in range(3):  # best-of-3: same variance treatment as the main metric
        t0 = time.time()
        spark.range(100_000_000).select(F.max(expr)).collect()
        calib.append(round(time.time() - t0, 3))
    res["cpu_calib_s"] = min(calib)
    res["cpu_calib_all"] = calib
    print("SCALING_RESULT " + json.dumps(res))


def run_scaling(n: int, levels=(8, 32)) -> dict:
    import subprocess

    results = {}
    for cores in levels:
        proc = subprocess.run(
            [sys.executable, "-c", f"import bench; bench._scaling_child({cores}, {n})"],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
            timeout=900,
        )
        for line in proc.stdout.splitlines():
            if line.startswith("SCALING_RESULT "):
                results[f"local[{cores}]"] = json.loads(line[len("SCALING_RESULT "):])
    lo, hi = f"local[{levels[0]}]", f"local[{levels[1]}]"
    results["workload"] = "frontier_core_bucketed"  # the real steady-state path
    if lo in results and hi in results:
        ratio = levels[1] / levels[0]
        results["scaling_efficiency"] = round(
            results[hi]["rate"] / (results[lo]["rate"] * ratio), 4
        )
        if "unbucketed" in results[lo] and "unbucketed" in results[hi]:
            results["scaling_efficiency_unbucketed"] = round(
                results[hi]["unbucketed"]["rate"] / (results[lo]["unbucketed"]["rate"] * ratio), 4
            )
        if "dedup_only" in results[lo] and "dedup_only" in results[hi]:
            results["scaling_efficiency_dedup_only"] = round(
                results[hi]["dedup_only"]["rate"] / (results[lo]["dedup_only"]["rate"] * ratio), 4
            )
        if results[lo].get("cpu_calib_s") and results[hi].get("cpu_calib_s"):
            results["cpu_ceiling_efficiency"] = round(
                results[lo]["cpu_calib_s"] / (results[hi]["cpu_calib_s"] * ratio), 4
            )
            results["efficiency_vs_hw_ceiling"] = round(
                results["scaling_efficiency"] / results["cpu_ceiling_efficiency"], 4
            )
    return results


HEADLINE = [
    "frontier_dedup",
    "politeness_topk",
    "pricing_summary",
    "revenue_by_nation",
    "scd2_rebuild",
    "token_counts",
    "exact_dup_flags",
    "embedding_topk",
    "minhash_neardups",
    "crawl_rounds",
    # round-5 additions (new timing series — absent from earlier BENCH_r{N})
    "dup_ngram_spans",
    "boilerplate_removal",
    "sequence_packing",
    # round-6 additions
    "lm_perplexity",
    "semdedup",
    "gopher_gates",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_urls = int(os.environ.get("SPARK_GRAFT_BENCH_URLS", "2000000"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None

    spark = get_spark("wcp-bench", cores=cpus, shuffle_partitions=cpus)
    core = bench_frontier_core(spark, n_urls)
    core_bucketed = bench_frontier_core_bucketed(spark, n_urls)
    # round-4: per-round frontier commit of the delta log
    commit = bench_frontier_commit(spark, n_urls, churn=max(1000, n_urls // 100))
    # round-5: fold cost — tiered minor fold (O(window churn)) vs major (O(live))
    fold = bench_frontier_fold(spark, n_urls, churn=max(1000, n_urls // 100))

    # extraction throughput: Arrow-UDF byte-identical HTML→text over the page
    # store (the webtext data-plane hot path)
    from web_crawling_prj_spark.functions.text import extract_text_udf
    from web_crawling_prj_spark.sources.pages_gen import pages_df

    pages = pages_df(spark, sf_dir).select("html").persist()
    n_pages = pages.count()  # materialize html (render cost excluded from timing)
    t0 = time.time()
    pages.select(F.sum(F.length(extract_text_udf("html")))).collect()
    extract_wall = time.time() - t0
    pages.unpersist()
    extract = {"n_pages": n_pages, "wall_s": round(extract_wall, 3), "rate": round(n_pages / extract_wall, 1)}

    # simhash signature throughput (vectorized kernel — the dedup tier hot path)
    from web_crawling_prj_spark.operators.textdedup import simhash64_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text").persist()
    n_docs = docs.count()
    docs.select(F.max(simhash64_col("text"))).collect()  # warm workers/codegen
    t0 = time.time()
    docs.select(F.max(simhash64_col("text"))).collect()
    sh_wall = time.time() - t0
    docs.unpersist()
    simhash = {"n_docs": n_docs, "wall_s": round(sh_wall, 3), "rate": round(n_docs / sh_wall, 1)}

    # ANN vs exact brute force: recall@10 for planted noisy-copy queries (the
    # only honest recall on otherwise-random vectors) + both walls
    import numpy as np

    from web_crawling_prj_spark.operators.similarity import (
        brute_force_topk,
        lsh_bucketed_topk,
        recall_at_k,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()
    n_emb = emb.count()
    dim = len(emb.select("embedding").first()[0])
    rng = np.random.default_rng(7)
    qrows = [
        (int(r.vec_id), [float(x) + 0.03 * float(e) for x, e in zip(r.embedding, rng.standard_normal(dim))])
        for r in emb.where(F.col("vec_id") < 8).collect()
    ]
    q = spark.createDataFrame(qrows, "query_id long, query_vec array<float>")
    t0 = time.time()
    exact = brute_force_topk(emb, q, k=10).persist()
    exact.count()
    bf_wall = time.time() - t0
    t0 = time.time()
    ann_df = lsh_bucketed_topk(emb, q, dim=dim, k=10, n_planes=8, n_probes=4).persist()
    ann_df.count()
    ann_wall = time.time() - t0
    ann = {
        "n_vectors": n_emb,
        "dim": dim,
        "brute_wall_s": round(bf_wall, 3),
        "ann_wall_s": round(ann_wall, 3),
        # recall@1 = does ANN find each query's planted near-copy (the only
        # TRUE neighbor in otherwise-random vectors); recall@10 is reported
        # too but is structurally ≈0.1 here since ranks 2..10 are random
        "ann_recall_at_1_planted": round(recall_at_k(ann_df, exact, 1), 4),
        "ann_recall_at_10": round(recall_at_k(ann_df, exact, 10), 4),
        "n_probes": 4,
        "n_planes": 8,
    }
    emb.unpersist()
    exact.unpersist()
    ann_df.unpersist()

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # retired from the driver-facing listing (round 5) but kept in the bench
    # headline for round-over-round comparability of the timing series
    qs.setdefault("minhash_neardups", entrymod.q_minhash_neardups)
    timings = {}
    timings_all = {}
    for name in HEADLINE:
        fn = qs.get(name)
        if fn is None:
            continue
        walls = []
        try:
            for _ in range(3):  # best-of-3: signal, not single-VM noise
                t0 = time.time()
                fn(spark, sf_dir).count()
                walls.append(round(time.time() - t0, 3))
            timings[name] = min(walls)
            timings_all[name] = walls
        except Exception as ex:  # a broken query must not kill the bench line
            timings[name] = -1.0
            print(f"bench query {name} failed: {ex}", file=sys.stderr)

    out = {
        "metric": "urls_scheduled_deduped_per_sec",
        "value": core["rate"],
        "unit": "urls/sec",
        "queries": timings,
        "queries_walls_all": timings_all,
        "sf": sf,
        "frontier_core": core,
        "frontier_core_bucketed": core_bucketed,
        "frontier_commit": commit,
        "frontier_fold": fold,
        "extract_pages_per_sec": extract,
        "simhash_docs_per_sec": simhash,
        "ann": ann,
        "cpus": cpus,
    }
    if not os.environ.get("SPARK_GRAFT_SKIP_SCALING"):
        n_scale = int(os.environ.get("SPARK_GRAFT_SCALE_URLS", str(n_urls * 8)))
        spark.stop()  # children must own the machine — no idle parent JVM skew
        out["scaling"] = run_scaling(n_scale)
    # FULL record → file (round 3's single line outgrew the driver's tail
    # capture and BENCH_r03.json came back unparseable); the stdout line is a
    # COMPACT headline printed LAST so the driver's tail always parses it.
    os.makedirs(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH"), exist_ok=True)
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH", "last_run.json")
    with open(full_path, "w") as f:
        json.dump(out, f, indent=1)
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "core_bucketed_rate": core_bucketed.get("rate"),
        "commit_mb_per_round": commit["delta"]["mb_per_round"],
        "fold_bytes_major_vs_minor": fold.get("fold_bytes_major_vs_minor"),
        "full_record": "BENCH/last_run.json",
    }
    sc = out.get("scaling")
    if isinstance(sc, dict):
        compact["scaling_efficiency"] = {
            k: v for k, v in sc.items() if "efficiency" in str(k) or k in ("n_cores", "levels")
        } or sc.get("efficiency")
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
