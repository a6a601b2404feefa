"""Tests for statistical LM-quality curation (lmquality.py) and BM25
relevance (relevance.py).

Reference scope note: the reference pipeline stops at text extraction
(utils/common/data_processing.py); these are the standard public-recipe
downstream corpus ops (CCNet LREC'20 perplexity bucketing, DSIR NeurIPS'23
importance weights, Robertson BM25) a 100 TB crawl output feeds.

Strategy: every numeric path is re-derived by a tiny pure-Python model on
the same toy corpus — the Spark plan must reproduce the closed-form math
exactly (to float tolerance), plus determinism-under-partitioning laws.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from web_crawling_prj_spark.operators.lmquality import (
    dsir_log_weights,
    dsir_resample,
    hashed_ngram_features,
    perplexity_buckets,
    perplexity_scores,
    tokenize_positional,
    train_bigram_lm,
)
from web_crawling_prj_spark.operators.relevance import bm25_scores

TARGET = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat on the log"),
    (3, "a cat and a dog"),
]
RAW = [
    (10, "the cat sat"),          # very target-like
    (11, "quantum flux capacitor oscillates"),  # fully OOV
    (12, "the dog and the cat sat on the mat"),  # target-like
    (13, ""),                      # empty -> dropped from scores
    (14, "zzz the zzz the zzz"),   # mixed
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# pure-Python twin of the bigram LM


def _py_lm(target_rows):
    uni: dict[str, int] = {}
    bi: dict[tuple[str, str], int] = {}
    for _, text in target_rows:
        toks = [t for t in text.lower().strip().split() if t]
        for i, w in enumerate(toks):
            uni[w] = uni.get(w, 0) + 1
            if i > 0:
                bi[(toks[i - 1], w)] = bi.get((toks[i - 1], w), 0) + 1
    t = sum(uni.values())
    v = len(uni)
    return uni, bi, t, v


def _py_perplexity(text, uni, bi, t, v, alpha=1.0):
    toks = [x for x in text.lower().strip().split() if x]
    if not toks:
        return None
    lps = []
    for i, w in enumerate(toks):
        p_uni = (uni.get(w, 0) + 1) / (t + v + 1)
        if i == 0:
            lps.append(math.log(p_uni))
        else:
            prev = toks[i - 1]
            p = (bi.get((prev, w), 0) + alpha * p_uni) / (uni.get(prev, 0) + alpha)
            lps.append(math.log(p))
    return math.exp(-sum(lps) / len(lps))


def test_tokenize_positional(spark):
    out = tokenize_positional(_df(spark, [(1, "  The  cat\tSat ")]), "doc_id", "text")
    rows = sorted((r.pos, r.w, r.w_prev) for r in out.collect())
    assert rows == [(1, "the", None), (2, "cat", "the"), (3, "sat", "cat")]


def test_train_counts_match_python(spark):
    uni, bi, totals = train_bigram_lm(_df(spark, TARGET), "doc_id", "text")
    p_uni, p_bi, p_t, p_v = _py_lm(TARGET)
    assert {(r.w, r.c_uni) for r in uni.collect()} == set(p_uni.items())
    assert {((r.w_prev, r.w), r.c_bi) for r in bi.collect()} == set(p_bi.items())
    trow = totals.collect()[0]
    assert (trow.t_tokens, trow.v_vocab) == (p_t, p_v)


@pytest.mark.parametrize("alpha", [1.0, 0.4])
def test_perplexity_closed_form(spark, alpha):
    uni, bi, totals = train_bigram_lm(_df(spark, TARGET), "doc_id", "text")
    out = perplexity_scores(
        _df(spark, RAW), uni, bi, totals, "doc_id", "text", alpha=alpha
    ).collect()
    got = {r.doc_id: (r.n_tokens, r.perplexity) for r in out}
    p_uni, p_bi, p_t, p_v = _py_lm(TARGET)
    assert 13 not in got  # empty doc dropped
    for doc_id, text in RAW:
        if not text:
            continue
        want = _py_perplexity(text, p_uni, p_bi, p_t, p_v, alpha)
        n, ppl = got[doc_id]
        assert n == len(text.split())
        assert ppl == pytest.approx(want, rel=1e-12)
    # target-like text scores lower perplexity than OOV text
    assert got[10][1] < got[11][1]
    assert got[12][1] < got[11][1]


def test_perplexity_buckets_head_middle_tail(spark):
    uni, bi, totals = train_bigram_lm(_df(spark, TARGET), "doc_id", "text")
    scores = perplexity_scores(_df(spark, RAW), uni, bi, totals, "doc_id", "text")
    out = {r.doc_id: r.bucket for r in perplexity_buckets(scores, "doc_id").collect()}
    assert set(out.values()) <= {"head", "middle", "tail"}
    # 4 scored docs over 3 ntiles -> sizes 2/1/1; most target-like in head
    assert out[10] == "head" or out[12] == "head"
    # 'zzz' after a SEEN context word divides p_uni by c_uni(prev)+alpha, so
    # doc 14 out-perplexes even the all-OOV doc 11; both sit past the head.
    assert out[14] == "tail"
    assert out[11] in {"middle", "tail"}


def test_hashed_features_namespaces_and_counts(spark):
    out = hashed_ngram_features(
        _df(spark, [(1, "a b a")]), "doc_id", "text", n_buckets=1 << 20
    )
    # 3 unigrams + 2 bigrams = 5 feature instances; 'a' twice may share bucket
    assert out.agg(F.sum("cnt")).collect()[0][0] == 5


def test_dsir_weight_direction_and_resample(spark):
    w = dsir_log_weights(
        _df(spark, RAW), _df(spark, TARGET), "doc_id", "text", n_buckets=4096
    )
    got = {r.doc_id: r.log_weight for r in w.collect()}
    # docs made of target n-grams weigh more than pure-OOV docs
    assert got[10] > got[11]
    assert got[12] > got[11]
    top = dsir_resample(w, "doc_id", k=2).collect()
    assert len(top) == 2
    assert [r.rank for r in sorted(top, key=lambda r: r.rank)] == [1, 2]
    # deterministic under re-run and under different parallelism
    again = dsir_resample(w.repartition(7), "doc_id", k=2).collect()
    assert {(r.doc_id, r.rank) for r in top} == {(r.doc_id, r.rank) for r in again}


# ---------------------------------------------------------------------------
# BM25


def _py_bm25(rows, terms, k1=1.2, b=0.75):
    docs = {k: [t for t in x.lower().strip().split() if t] for k, x in rows}
    dl = {k: len(v) for k, v in docs.items() if v}
    n = len(dl)
    avgdl = sum(dl.values()) / n
    out = {}
    for k, toks in docs.items():
        if not toks:
            continue
        score, hit = 0.0, 0
        for t in set(terms):
            tf = toks.count(t)
            if not tf:
                continue
            df = sum(1 for ts in docs.values() if t in ts)
            idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
            score += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl[k] / avgdl))
            hit += 1
        if hit:
            out[k] = (hit, score)
    return out


def test_bm25_matches_python(spark):
    rows = TARGET + RAW
    terms = ["cat", "mat", "zzz"]
    out = bm25_scores(_df(spark, rows), "doc_id", "text", terms)
    got = {r.doc_id: (r.n_terms_hit, r.score) for r in out.collect()}
    want = _py_bm25(rows, terms)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1], rel=1e-12)


def test_bm25_only_matching_docs_returned(spark):
    out = bm25_scores(_df(spark, RAW), "doc_id", "text", ["capacitor"])
    rows = out.collect()
    assert [r.doc_id for r in rows] == [11]
    assert rows[0].n_terms_hit == 1


def _plan(df):
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")


def test_curation_plans_broadcast_models_and_stay_jvm_side(spark):
    """Plan-shape pins for the curation layer: the LM/BM25 model tables
    reach the scoring join as BroadcastExchange (never SortMergeJoin on the
    doc side), and no Python eval node appears anywhere — all three scorers
    are pure native-expression plans."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    split = F.col("doc_id") % 7

    uni, bi, totals = train_bigram_lm(d.where(split == 0), "doc_id", "text")
    ppl = perplexity_scores(d.where(split != 0), uni, bi, totals, "doc_id", "text")
    p = _plan(ppl)
    assert p.count("BroadcastExchange") >= 3  # uni, uni-as-prev, bi (+ totals BNLJ)
    assert "SortMergeJoin" not in p

    bm = bm25_scores(d, "doc_id", "text", ["spark", "join"])
    pb = _plan(bm)
    assert "BroadcastExchange" in pb and "SortMergeJoin" not in pb

    for plan in (p, pb):
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan
