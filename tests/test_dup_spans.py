"""Exact duplicate-substring spans (sub-document dedup tier).

Semantics under test (distributed re-expression of Lee et al. ACL'22 exact
substring dedup): a maximal token span is reported iff every length-n gram in
it occurs >= min_count times corpus-wide; overlapping duplicated grams merge.
"""

from __future__ import annotations

from web_crawling_prj_spark.operators.textdedup import (
    duplicate_ngram_spans,
    positional_ngrams_col,
    shingles_col,
    tokens_col,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_positional_ngrams_align_with_shingles(spark):
    """Same tokenization/gram text as shingles_col (set(pos-grams) ⊆
    set(shingles) and equal when len ≥ n), empty for short docs."""
    df = _docs(
        spark,
        [(1, "Alpha beta gamma delta epsilon"), (2, "one two"), (3, None), (4, "")],
    ).select(
        "doc_id",
        positional_ngrams_col("text", 3).alias("pg"),
        shingles_col("text", 3).alias("sh"),
        tokens_col("text").alias("toks"),
    )
    out = {r.doc_id: r for r in df.collect()}
    assert out[1].pg == ["alpha beta gamma", "beta gamma delta", "gamma delta epsilon"]
    assert sorted(set(out[1].pg)) == sorted(out[1].sh)
    assert out[2].pg == [] and out[3].pg == [] and out[4].pg == []
    # positions: gram i starts at token i
    assert out[1].pg[1].split(" ")[0] == out[1].toks[1]


def test_cross_doc_shared_run_merges_to_one_maximal_span(spark):
    # docs 1 and 2 share the 6-token run "p q r s t u" at different offsets
    docs = _docs(
        spark,
        [
            (1, "a b c p q r s t u x y z"),
            (2, "m n p q r s t u k"),
            (3, "totally unrelated words only here"),
        ],
    )
    spans = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in duplicate_ngram_spans(docs, n=4, min_count=2).collect()
    }
    # run occupies tokens 3..8 in doc 1 and 2..7 in doc 2 (end exclusive)
    assert spans == {(1, 3, 9, 6), (2, 2, 8, 6)}


def test_within_doc_repeat_counts(spark):
    docs = _docs(
        spark,
        [(1, "u v w x unique filler u v w x trailing"), (2, "nothing shared here at all")],
    )
    spans = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_ngram_spans(docs, n=4, min_count=2).collect()
    }
    assert spans == {(1, 0, 4), (1, 6, 10)}


def test_short_docs_and_min_count(spark):
    docs = _docs(spark, [(1, "a b c"), (2, "a b c"), (3, "a b c d e f g h")])
    # n=4: docs 1/2 are too short to hold any 4-gram; doc 3's grams are unique
    assert duplicate_ngram_spans(docs, n=4, min_count=2).count() == 0
    # min_count=3 not reached by a pair
    pair = _docs(spark, [(1, "w x y z tail one"), (2, "w x y z tail two")])
    assert duplicate_ngram_spans(pair, n=4, min_count=3).count() == 0
    assert duplicate_ngram_spans(pair, n=4, min_count=2).count() == 2


def test_spans_partitioning_independent(spark):
    docs = _docs(
        spark,
        [(i, f"common boiler plate text here tail-{i} extra pad words") for i in range(40)],
    )
    a = duplicate_ngram_spans(docs.repartition(1), n=4).collect()
    b = duplicate_ngram_spans(docs.repartition(17), n=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # "tail-{i}" tokenizes to ["tail", "{i}"], so the shared region is the
    # 6-token prefix "common boiler plate text here tail" — one span per doc
    assert {(r.span_start, r.span_end) for r in a} == {(0, 6)}


# --- corpus-frequency boilerplate line removal (tier 2.6) ---

def test_boilerplate_lines_removed_content_kept(spark):
    from web_crawling_prj_spark.operators.textdedup import remove_boilerplate_lines

    boiler = "Accept all cookies"
    docs = _docs(
        spark,
        [(i, f"{boiler}\ncontent {i} unique\nfooter note") for i in range(5)]
        + [(99, "totally standalone page")],
    )
    out = {r.doc_id: r for r in remove_boilerplate_lines(docs, min_docs=3).collect()}
    for i in range(5):
        assert out[i].clean_text == f"content {i} unique"
        assert (out[i].n_kept, out[i].n_removed) == (1, 2)
    assert out[99].clean_text == "totally standalone page"
    assert (out[99].n_kept, out[99].n_removed) == (1, 0)


def test_boilerplate_matching_is_case_and_pad_insensitive(spark):
    from web_crawling_prj_spark.operators.textdedup import remove_boilerplate_lines

    docs = _docs(
        spark,
        [(1, "ACCEPT COOKIES \nbody one"), (2, "accept cookies\nbody two"), (3, "  Accept Cookies\nbody three")],
    )
    out = {r.doc_id: r.clean_text for r in remove_boilerplate_lines(docs, min_docs=3).collect()}
    assert out == {1: "body one", 2: "body two", 3: "body three"}


def test_all_boilerplate_doc_survives_empty(spark):
    from web_crawling_prj_spark.operators.textdedup import remove_boilerplate_lines

    docs = _docs(spark, [(i, "same line") for i in range(4)])
    out = remove_boilerplate_lines(docs, min_docs=2).collect()
    assert len(out) == 4  # never dropped
    assert all(r.clean_text == "" and r.n_kept == 0 and r.n_removed == 1 for r in out)


def test_line_order_preserved_under_partitioning(spark):
    from web_crawling_prj_spark.operators.textdedup import remove_boilerplate_lines

    def body(i):
        return "\n".join(f"line {j} of body {i}" for j in range(20))

    docs = _docs(spark, [(i, f"shared header\n{body(i)}") for i in range(6)])
    a = remove_boilerplate_lines(docs.repartition(1), min_docs=4).collect()
    b = remove_boilerplate_lines(docs.repartition(11), min_docs=4).collect()
    assert {r.doc_id: r.clean_text for r in a} == {r.doc_id: r.clean_text for r in b}
    got = {r.doc_id: r.clean_text for r in a}
    assert got == {i: body(i) for i in range(6)}  # original order, header gone
