from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from web_crawling_prj_spark.operators.similarity import (
    brute_force_topk,
    cosine,
    embedding_near_dup_pairs,
    lsh_bucketed_topk,
)
from web_crawling_prj_spark.operators.textdedup import (
    dedup_exact,
    dedup_minhash,
    minhash_candidate_pairs,
    ngram_jaccard,
    shingles_col,
    simhash_candidate_pairs,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog near the river bank yesterday"),  # near dup of 0
    (3, "completely different content about spark dataframes and shuffle partitions"),
    (4, "THE QUICK   brown fox jumps over the lazy dog near the river bank today"),  # normalized dup of 0
    (5, "another unrelated document mentioning bloom filters and url frontiers"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_duplicates(docs):
    kept = {r.doc_id for r in dedup_exact(docs).collect()}
    assert kept == {0, 2, 3, 4, 5}


def test_normalized_dedup(docs):
    kept = {r.doc_id for r in dedup_exact(docs, normalized=True).collect()}
    assert kept == {0, 2, 3, 5}  # 4 collapses with 0 after case/space folding


def test_minhash_pairs_and_dedup(docs):
    pairs = minhash_candidate_pairs(docs, jaccard_threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got  # exact dup always pairs
    assert (2, 3) not in got and (0, 3) not in got  # unrelated never pairs
    kept = {r.doc_id for r in dedup_minhash(docs, jaccard_threshold=0.5).collect()}
    assert 0 in kept and 1 not in kept and 3 in kept and 5 in kept


def test_ngram_jaccard_exact(spark, docs):
    pairs = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "id_a long, id_b long")
    j = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard(pairs, docs).collect()}
    assert j[(0, 1)] == 1.0
    assert 0.5 < j[(0, 2)] < 1.0
    assert j[(0, 3)] < 0.05


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([("one two",), ("",)], "text string")
    rows = df.select(shingles_col("text").alias("s")).collect()
    assert rows[0].s == ["one two"]  # shorter than n → whole-doc shingle
    assert rows[1].s == [""] or rows[1].s == []


def test_shingles_match_python_reference(spark, sf_dir):
    """The zip_with shingle rewrite (round 5, 5.7× over per-position slice)
    must be VALUE-identical to the naive definition — these grams feed the
    DuckDB-oracle-exact md5-minhash pipeline, so a single changed gram shows
    up as an oracle hash mismatch. Pinned against an independent pure-Python
    reference over real corpus docs + adversarial edges."""
    import re

    def ref(text: str, n: int = 3) -> list[str]:
        toks = [t for t in re.split(r"[\W_]+", (text or "").lower()) if t]
        if not toks:
            return [""]
        grams = [" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))]
        return list(dict.fromkeys(grams))  # first-occurrence distinct

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (10_000_000, "a b"),
            (10_000_001, "solo"),
            (10_000_002, ""),
            (10_000_003, "x y x y x y"),
            (10_000_004, "Tabs\tand\nnewlines_and__underscores  here"),
            (10_000_005, None),  # NULL text ≡ empty text: both yield [""]
        ],
        "doc_id long, text string",
    )
    rows = docs.unionByName(edge).select("doc_id", "text", shingles_col("text").alias("s")).collect()
    assert rows
    for r in rows:
        assert r.s == ref(r.text), r.doc_id


def _simhash64_reference(s: str) -> int:
    """Scalar FNV-1a SimHash — the independent golden for the vectorized UDF
    (bit-for-bit the pre-vectorization algorithm)."""
    import re

    toks = re.findall(r"[a-z0-9]+", (s or "").lower())
    if not toks:
        return 0
    votes = [0] * 64
    for t in toks:
        h = 0xCBF29CE484222325
        for byte in t.encode():
            h = ((h ^ byte) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
        for j in range(64):
            votes[j] += 1 if (h >> j) & 1 else -1
    sim = 0
    for j in range(64):
        if votes[j] > 0:
            sim |= 1 << j
    return sim - (1 << 64) if sim >= (1 << 63) else sim  # two's complement


def test_simhash_vectorized_matches_scalar_golden(spark, docs, sf_dir):
    """Golden for query `simhash_pairs`: the numpy-vectorized simhash64_col
    equals the scalar reference on the fixture corpus AND on real documents
    (incl. empty/unicode/long-token edge cases)."""
    from web_crawling_prj_spark.operators.textdedup import simhash64_col

    extra = spark.createDataFrame(
        [(100, ""), (101, None), (102, "   \n\t  "), (103, "héllo wörld café 123"),
         (104, "a" * 500 + " b"), (105, "x")],
        "doc_id long, text string",
    )
    real = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text").limit(80)
    corpus = docs.unionByName(extra).unionByName(real)
    got = corpus.select("doc_id", "text", simhash64_col("text").alias("sh")).collect()
    assert len(got) > 80
    for r in got:
        assert r.sh == _simhash64_reference(r.text), f"doc {r.doc_id} simhash mismatch"


def test_simhash_pairs(docs):
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_candidate_pairs(docs, max_hamming=6).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 0  # identical text → identical simhash
    assert (0, 4) in pairs and pairs[(0, 4)] == 0  # case/space don't change tokens
    assert all(not (a == 0 and b == 3) for a, b in pairs)


def test_lsh_bucket_cap_unit(spark):
    """_cap_buckets keeps the `cap` smallest ids per bucket and reports the cut."""
    from web_crawling_prj_spark.operators.textdedup import _cap_buckets

    rows = [(i, 0, 7) for i in range(1000)] + [(i, 1, 9) for i in range(10)]
    banded = spark.createDataFrame(rows, "id long, band_id int, band_hash long")
    stats = {}
    kept = _cap_buckets(banded, ["band_id", "band_hash"], 50, stats).collect()
    assert stats == {"dropped_bucket_rows": 950, "overflowed_buckets": 1}
    hot = sorted(r.id for r in kept if r.band_id == 0)
    assert hot == list(range(50))  # deterministic: smallest ids survive
    assert sum(1 for r in kept if r.band_id == 1) == 10


def test_minhash_identical_flood_is_linear(spark):
    """10k byte-identical docs: the exact pre-pass collapses them to one
    representative, so LSH sees 1 doc, no bucket overflows, and the pair set
    is the O(N) representative star — never the O(N²) clique."""
    n = 10_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("same boilerplate text repeated everywhere").alias("text")
    )
    stats = {}
    pairs = minhash_candidate_pairs(docs, jaccard_threshold=0.5, stats_out=stats)
    rows = pairs.collect()
    assert len(rows) == n - 1  # every member pairs with representative 0
    assert all(r.id_a == 0 and r.est_jaccard == 1.0 for r in rows)
    assert stats["dropped_bucket_rows"] == 0  # one rep → no hot bucket at all
    kept = {r.doc_id for r in dedup_minhash(docs, jaccard_threshold=0.5).collect()}
    assert kept == {0}


def test_minhash_bucket_cap_wired_through(docs):
    """bucket_cap=1 disables rep-vs-rep joins (each bucket keeps 1 row) but
    exact-dup intra pairs survive; the drop is reported, not silent."""
    stats = {}
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(
            docs, jaccard_threshold=0.5, bucket_cap=1, stats_out=stats
        ).collect()
    }
    assert (0, 1) in pairs  # exact dup via pre-pass, immune to the cap
    assert (0, 2) not in pairs  # near-dup pair lost to cap=1...
    assert stats["dropped_bucket_rows"] > 0  # ...and the loss is accounted for


def test_simhash_identical_flood_and_cap(spark):
    docs10k = spark.range(5000).select(
        F.col("id").alias("doc_id"), F.lit("identical simhash flood document body").alias("text")
    )
    stats = {}
    pairs = simhash_candidate_pairs(docs10k, stats_out=stats)
    assert pairs.count() == 4999
    assert pairs.where("id_a != 0 OR hamming != 0").count() == 0
    assert stats["dropped_bucket_rows"] == 0


def test_embedding_near_dup_identical_flood(spark):
    n = 2000
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n)] + [(n, [4.0, -3.0, 2.0, -1.0])]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    stats = {}
    pairs = embedding_near_dup_pairs(e, dim=4, threshold=0.95, n_planes=4, stats_out=stats)
    rows = pairs.collect()
    assert len(rows) == n - 1 and all(r.id_a == 0 and r.cos_sim == 1.0 for r in rows)
    assert stats["dropped_bucket_rows"] == 0


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal((20, 8)).astype(np.float32)
    base[7] = base[3] + 0.01 * rng.standard_normal(8).astype(np.float32)  # near-dup pair (3,7)
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_cosine_native(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])],
        "a array<float>, b array<float>",
    )
    got = [round(r.c, 6) for r in df.select(cosine("a", "b").alias("c")).collect()]
    assert got == [1.0, 0.0, 1.0]


def test_brute_force_topk_self_is_best(spark, emb):
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = brute_force_topk(emb, queries, k=5)
    best = {r.query_id: r.vec_id for r in top.where("rank = 1").collect()}
    assert best == {0: 0, 1: 1, 2: 2}  # each query's nearest neighbour is itself
    assert top.groupBy("query_id").count().where("count != 5").count() == 0


def test_lsh_topk_contains_self_and_neardup(spark, emb):
    queries = emb.where("vec_id = 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = lsh_bucketed_topk(emb, queries, dim=8, k=5, n_planes=4)
    ids = [r.vec_id for r in top.orderBy("rank").collect()]
    assert ids[0] == 3 and 7 in ids  # near-dup shares the bucket virtually always


def test_embedding_near_dup(spark, emb):
    pairs = {(r.id_a, r.id_b) for r in embedding_near_dup_pairs(emb, dim=8, threshold=0.99, n_planes=4).collect()}
    assert (3, 7) in pairs


def test_winnowing_fingerprints_python_golden(spark, sf_dir):
    """Winnowing (query `winnowing_fps`): Spark fingerprints equal an
    independent hashlib/pure-Python winnowing over real documents."""
    import hashlib
    import re

    from web_crawling_prj_spark.functions.text import winnowing_fingerprints

    def pyref(text, k=8, w=4):
        t = re.sub(r"\s+", " ", (text or "").lower())
        grams = [hashlib.md5(t[i : i + k].encode()).hexdigest() for i in range(max(len(t) - k + 1, 1))]
        mins = [min(grams[j : j + w]) for j in range(max(len(grams) - w + 1, 1))]
        return sorted(set(mins))

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    rows = d.select("doc_id", "text", winnowing_fingerprints("text").alias("fp")).collect()
    assert rows
    for r in rows:
        assert sorted(r.fp) == pyref(r.text), f"doc {r.doc_id}"


def test_winnowing_locality_guarantee(spark):
    """The winnowing guarantee: any shared run of ≥ k+window-1 chars yields a
    shared fingerprint — a doc with one copied sentence inside different text
    shares fingerprints; disjoint docs share none."""
    from web_crawling_prj_spark.operators.textdedup import winnowing_overlap_pairs

    stolen = "this exact sentence was copied verbatim between two documents"
    docs = spark.createDataFrame(
        [
            (0, f"opening words of document zero. {stolen}. closing words here."),
            (1, f"entirely different preamble text! {stolen}! and another ending."),
            (2, "no overlap with anything else at all, completely disjoint body."),
            (3, f"opening words of document zero. {stolen}. closing words here."),  # exact dup of 0
        ],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.shared_fps for r in winnowing_overlap_pairs(docs, min_shared=2).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 2  # partial copy detected
    assert (0, 3) in pairs  # exact dup via pre-pass
    assert all(2 not in p for p in pairs)  # disjoint doc pairs with nothing


def test_simhash_carry_safe_subsegments_and_property(spark):
    """The packed-lane vote path splits rows with >255 tokens into carry-safe
    subsegments — pin that path with 300- and 600-token docs, plus
    hypothesis-style random corpora (unicode, repeated tokens, punctuation)
    against the scalar reference."""
    import random

    from web_crawling_prj_spark.operators.textdedup import simhash64_col

    rng = random.Random(42)
    vocab = ["alpha", "beta", "gamma", "x9", "Ω", "tokentokentoken", "a", "7", "naïve", "mixedCASE"]
    rows = [
        (0, " ".join(rng.choice(vocab) for _ in range(300))),  # >255 tokens: 2 subsegments
        (1, " ".join(rng.choice(vocab) for _ in range(600))),  # 3 subsegments
        (2, " ".join(rng.choice(vocab) for _ in range(255))),  # boundary: exactly max_seg
        (3, " ".join(rng.choice(vocab) for _ in range(256))),  # boundary: max_seg + 1
    ] + [
        (10 + i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))) + rng.choice(["", " !!!", " ...", " 42"]))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = df.select("doc_id", "text", simhash64_col("text").alias("sh")).collect()
    for r in got:
        assert r.sh == _simhash64_reference(r.text), f"doc {r.doc_id}"


def test_cap_buckets_two_level_equals_naive_and_spreads_hot_bucket(spark):
    """The salted pre-rank must (a) return EXACTLY the single-window result and
    (b) put the salted (bucket, salt) window before the exact window in the
    plan, so a flood bucket is sorted across n_salts tasks, never one."""
    import contextlib
    import io

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from web_crawling_prj_spark.operators.textdedup import _cap_buckets

    # skewed: one 20k-row hot bucket + 50 cold buckets; ids deliberately
    # interleaved so per-salt winners differ from a naive head()
    rows = [(i * 7 % 20011, 0, 7) for i in range(20_000)] + [
        (i, 1, 100 + i % 50) for i in range(500)
    ]
    banded = spark.createDataFrame(rows, "id long, band_id int, band_hash long")
    cap = 64
    got = _cap_buckets(banded, ["band_id", "band_hash"], cap, None, n_salts=8)
    w = Window.partitionBy("band_id", "band_hash").orderBy(F.asc("id"))
    naive = (
        banded.withColumn("_bn", F.row_number().over(w)).where(F.col("_bn") <= cap).drop("_bn")
    )
    assert got.exceptAll(naive).count() == 0 and naive.exceptAll(got).count() == 0

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain(mode="simple")
    plan = buf.getvalue()
    assert plan.count("Window") == 2, plan  # salted pre-rank + exact rank
    assert "pmod(xxhash64(id" in plan, plan  # level 1 partitions by (keys, salt)


def test_run_summary_zero_scheduled_is_idle_not_failed(spark):
    """ADVICE r2: scheduled == 0 must not divide by zero or flag failure.
    The failure threshold is failed ≥ ⌈scheduled / 2⌉ (ceil, as the reference
    aborts): 2 of 5 failed is not a failed round, 3 of 5 is."""
    from web_crawling_prj_spark.plans.reports import run_summary

    m = spark.createDataFrame(
        [(1, 0, 0, 0, 0, 0), (2, 0, 10, 7, 3, 1), (3, 0, 5, 3, 2, 0), (4, 0, 5, 2, 3, 0)],
        "round_id int, bucket int, scheduled_cnt long, fetched_ok_cnt long, "
        "failed_cnt long, retried_cnt long",
    )
    out = {r.round_id: r for r in run_summary(m).collect()}
    assert out[1].success_rate_pct == 100.0 and out[1].run_failed is False
    assert out[2].success_rate_pct == 70.0 and out[2].run_failed is False
    assert out[3].success_rate_pct == 60.0 and out[3].run_failed is False
    assert out[4].success_rate_pct == 40.0 and out[4].run_failed is True


def test_cms_bounds_and_merge(spark):
    """Count-min guarantees on a skewed key set: estimate ≥ exact ALWAYS,
    estimate ≤ exact + εN (ε = e/width) for every key; merging two
    half-sketches (union + re-sum) equals the one-shot sketch."""
    import math

    from web_crawling_prj_spark.operators.sketches import cms_build, cms_estimate

    w, d = 64, 4  # small width so collisions actually happen
    df = spark.range(20_000).select(
        "id",
        F.when(F.pmod("id", F.lit(10)) < 4, F.lit("hot"))
        .otherwise(F.format_string("k%d", F.pmod("id", F.lit(500))))
        .alias("key"),
    )
    exact = {r.key: r.n for r in df.groupBy("key").agg(F.count("*").alias("n")).collect()}
    n_total = sum(exact.values())
    cells = cms_build(df, "key", width=w, depth=d)
    keys = df.select("key").distinct()
    est = {r.key: r.cms_count for r in cms_estimate(cells, keys, "key", width=w, depth=d).collect()}
    eps_n = math.e / w * n_total
    for k, n in exact.items():
        assert est[k] >= n, (k, est[k], n)  # never undercounts
        assert est[k] <= n + eps_n, (k, est[k], n, eps_n)  # CMS error bound
    assert est["hot"] >= 8000  # the heavy hitter is visible

    # mergeability: sketch(first half) ⊎ sketch(second half) == sketch(all)
    h1 = cms_build(df.where("id < 10000"), "key", width=w, depth=d)
    h2 = cms_build(df.where("id >= 10000"), "key", width=w, depth=d)
    merged = (
        h1.unionByName(h2).groupBy("j", "cell").agg(F.sum("cnt").alias("cnt"))
    )
    one_shot = {(r.j, r.cell): r.cnt for r in cells.collect()}
    got = {(r.j, r.cell): r.cnt for r in merged.collect()}
    assert got == one_shot


def test_decontaminate_overlap_counts_and_flags(spark):
    """Known-answer decontamination: 8-gram overlap counts per train doc,
    clean docs annotated n_shared=0, min_shared threshold honored, short
    docs compare by their whole-doc gram."""
    from web_crawling_prj_spark.operators.textdedup import decontaminate

    ev = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (101, "short eval doc"),
        ],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # full 10-token copy of eval 100 → shares all 3 distinct 8-grams
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            # 8-token prefix → exactly 1 shared 8-gram
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            # clean doc
            (3, "completely different words having nothing in common at all"),
            # short doc equal to eval 101 → whole-doc gram collision
            (4, "short eval doc"),
            # short doc, not in eval
            (5, "short other doc"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in decontaminate(train, ev).collect()}
    assert {k: (v.n_shared, v.contaminated) for k, v in got.items()} == {
        1: (3, True),
        2: (1, True),
        3: (0, False),
        4: (1, True),
        5: (0, False),
    }
    # min_shared raises the bar: only the full copy survives a 2-gram bar
    strict = {r.doc_id: r.contaminated for r in decontaminate(train, ev, min_shared=2).collect()}
    assert strict == {1: True, 2: False, 3: False, 4: False, 5: False}


def test_cosine_hoisted_equals_cosine(spark):
    """cosine_hoisted (norms precomputed per row — the r7 pair-join form)
    must be BIT-identical to cosine on every pair, including zero vectors
    (the denominator guard) — the hoist only changes where the norm fold
    runs, never its value."""
    from pyspark.sql import functions as F

    from web_crawling_prj_spark.operators.similarity import cosine, cosine_hoisted, l2_norm

    rows = [
        (1, [1.0, 2.0, -3.0], [0.5, -1.5, 2.5]),
        (2, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),  # zero-norm guard
        (3, [1e-8, 2e-8, 3e-8], [3e8, -2e8, 1e8]),
        (4, [0.1, 0.2, 0.3], [0.1, 0.2, 0.3]),
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    out = df.select(
        cosine("a", "b").alias("plain"),
        cosine_hoisted("a", l2_norm("a"), "b", l2_norm("b")).alias("hoisted"),
    ).collect()
    for r in out:
        assert r.plain == r.hoisted  # exact, not approx


def test_spread_if_narrow_guard(spark, docs):
    """The scan-parallelism guard: a below-parallelism input is round-robined
    to defaultParallelism (the fix for the single-split-scan serialization
    trap — everything upstream of a plan's first exchange inherits the scan's
    partitioning); an input at/above parallelism passes through UNCHANGED (no
    added exchange at real scale). Value-neutrality is pinned separately by
    the partitioning-independence laws (test_dup_spans / test_semdedup)."""
    from web_crawling_prj_spark.operators.textdedup import spread_if_narrow

    par = spark.sparkContext.defaultParallelism
    narrow = docs.coalesce(1)
    assert narrow.rdd.getNumPartitions() == 1
    assert spread_if_narrow(narrow).rdd.getNumPartitions() == par
    wide = docs.repartition(par + 4)
    spread = spread_if_narrow(wide)
    assert spread is wide  # identity — no exchange added above parallelism


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far (Spark's CodegenMetrics)."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_persist_fresh_distinct_entries_share_compiled_code(spark):
    """Each `_persist_fresh` call gets its own cache entry (never served from
    an earlier call's), yet generates the same code: the per-call token is a
    string literal, which generated code references instead of inlining."""
    from web_crawling_prj_spark.operators.textdedup import _persist_fresh

    df = spark.range(64).withColumn("v", F.col("id") * 3)
    persistent = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert _persist_fresh(df).count() == 64
    cached = persistent()
    compiled = _compiles(spark)
    assert _persist_fresh(df).count() == 64
    assert persistent() - cached, "second call was served from the first call's cache"
    assert _compiles(spark) == compiled


def test_composed_curation_plan_compiles_once(spark, docs):
    """Exact dedup → MinHash + SimHash candidates → Gopher gates, composed as
    one plan: ≈120 generated classes, more than Spark's default 100-entry
    codegen cache, so a second run compiles nothing only if the session's
    cache holds the whole plan (at 100 entries it recompiled ≈90). AQE is off
    here because it re-plans as stages finish, and the finishing order can
    add a few classes; the static plan makes the count exact."""
    from web_crawling_prj_spark.functions.text import gopher_metrics, gopher_pass

    def run():
        kept = dedup_exact(docs).select("doc_id", "text")
        near = (
            minhash_candidate_pairs(kept).select(F.col("id_b").alias("doc_id"))
            .unionByName(simhash_candidate_pairs(kept).select(F.col("id_b").alias("doc_id")))
            .distinct()
            .withColumn("near_dup", F.lit(True))
        )
        gates = kept.select("doc_id", gopher_pass(gopher_metrics("text")).alias("gopher_pass"))
        return sorted(gates.join(near, "doc_id", "left").collect())

    docs.count()  # plan both runs over the materialized fixture
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        first = run()
        compiled = _compiles(spark)
        assert run() == first
        assert _compiles(spark) == compiled
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_a_pipeline_compiles_once_at_any_stage_id(spark):
    """A union's children are whole-stage pipelines numbered in plan order,
    so swapping them swaps their stage ids. The session names every
    whole-stage class alike (``spark.sql.codegen.useIdInClassName`` off),
    so the swapped plan reuses both compiled classes; with stage ids in the
    class names it compiled them again. AQE is off for an exact count (see
    test_composed_curation_plan_compiles_once)."""
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    a = spark.range(0, 1000, 1, 2).selectExpr("id * 17 AS v").where("v % 3 = 1")
    b = spark.range(0, 1000, 1, 2).selectExpr("id * 19 + 4 AS v").where("v % 5 = 2")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        first = sorted(a.union(b).collect())
        compiled = _compiles(spark)
        assert sorted(b.union(a).collect()) == first
        assert _compiles(spark) == compiled
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_simhash_pairs_send_each_representative_through_the_udf_once(spark, docs, monkeypatch):
    """Both sides of the band self-join read one materialization of the band
    rows, so the SimHash pandas UDF sees each exact-group representative once."""
    from pyspark.sql.types import LongType

    import web_crawling_prj_spark.operators.textdedup as td

    rows = spark.sparkContext.accumulator(0)
    kernel = td.simhash_from_joined_udf.func

    @F.pandas_udf(LongType())
    def counted(joined: pd.Series, n_toks: pd.Series) -> pd.Series:
        rows.add(len(joined))
        return kernel(joined, n_toks)

    monkeypatch.setattr(td, "simhash_from_joined_udf", counted)
    pairs = {(r.id_a, r.id_b) for r in td.simhash_candidate_pairs(docs).collect()}
    assert (0, 1) in pairs
    assert rows.value == len({text for _, text in DOCS})
