"""Statistical language-model quality filtering for training corpora.

Two standard public-recipe curation steps the reference's crawl output would
feed at scale (the reference stops at extraction — utils/common/data_
processing.py — these are the downstream corpus ops a 100 TB pipeline needs):

* **N-gram LM perplexity bucketing** (CCNet, Wenzek et al. LREC'20): train a
  bigram LM with additive smoothing on a trusted target corpus, score every
  document by perplexity, and split the corpus into head/middle/tail buckets.
  CCNet uses a KenLM 5-gram; the relational re-expression here is a bigram
  model with unigram add-one backoff — same shape (train counts → broadcast →
  per-token log-prob → per-doc mean), fully column-native so it is
  value-exact reproducible in DuckDB.

* **DSIR hashed n-gram importance weights** (Xie et al., "Data Selection for
  Language Models via Importance Resampling", NeurIPS'23): hash unigram+bigram
  features into B buckets, fit multinomial bucket distributions p (target) and
  q (raw), weight each raw doc by sum_f count_f * (ln p(f) − ln q(f)), and
  resample the top-k. The md5-mod-B hash replaces DSIR's signed hashing so
  the whole pipeline is deterministic and oracle-checkable.

Scale notes (100 TB): the trained model / bucket tables are bounded —
vocab-sized for the LM (CCNet's production model is a fixed ~few-GB
artifact), exactly B rows for DSIR — so they BROADCAST and scoring is one
shuffle (the per-doc lag window) plus map-side joins; token-level groupBys
that build the model are partial-aggregable. Nothing here is quadratic and
no state grows with corpus size except the final per-doc score table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _tokens(text: Column | str) -> Column:
    """Whitespace tokens, lowercased, empties dropped (mirrors
    functions.text.token_count's normalization; DuckDB twin:
    list_filter(regexp_split_to_array(lower(trim(x)), '\\s+'), t -> t <> ''))."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != F.lit(""))


def tokenize_positional(df: DataFrame, key: str, text_col: str) -> DataFrame:
    """(key, pos, w, w_prev) token stream — pos is 1-based; w_prev is NULL at
    pos 1. One shuffle (the per-doc lag window)."""
    from web_crawling_prj_spark.operators.textdedup import spread_if_narrow

    # the tokenize+posexplode runs at the SCAN's parallelism (it sits below
    # the lag window's exchange); a single-file corpus parquet is one split →
    # one core for every lmquality consumer (LM training, scoring, DSIR and
    # classifier features). Guarded round-robin: identity at real scale.
    # Measured 1.2 s → 0.57 s for the full perplexity query at a 50 k-doc
    # single-split input; the subtree itself stays lazy (the round-7 bake-off
    # showed materializing it REGRESSES — this changes parallelism, not plan
    # sharing).
    tok = spread_if_narrow(df).select(
        F.col(key),
        F.posexplode(_tokens(text_col)).alias("_p0", "w"),
    ).select(key, (F.col("_p0") + 1).alias("pos"), "w")
    w = Window.partitionBy(key).orderBy("pos")
    return tok.withColumn("w_prev", F.lag("w").over(w))


def train_bigram_lm(target: DataFrame, key: str, text_col: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Count tables for an additively-smoothed bigram LM trained on ``target``.

    Returns ``(uni, bi, totals)``: ``uni(w, c_uni)``, ``bi(w_prev, w, c_bi)``,
    and a 1-row ``totals(t_tokens, v_vocab)``. All partial-aggregable
    groupBys; the outputs are vocab-bounded (broadcastable).

    The positional tokenize feeds both count tables and ``uni`` feeds three
    consumers, so the tokenize subtree executes up to four times per scoring
    query — measured, and deliberately LEFT that way: the target slice is
    1/7th of the corpus and the recompute is fused whole-stage-codegen,
    while materializing ``tok``/``uni`` adds cache-write/read barriers that
    LOSE in steady state (50k docs warm: 0.74 s lazy vs 1.04-1.28 s with
    one/both persists). Round-7 optimization note: measure before
    materializing — shared-subtree caching only pays when the subtree is
    expensive relative to its materialized bytes (cf. textdedup, where it
    wins 35%)."""
    tok = tokenize_positional(target, key, text_col)
    uni = tok.groupBy("w").agg(F.count("*").alias("c_uni"))
    bi = (
        tok.where(F.col("w_prev").isNotNull())
        .groupBy("w_prev", "w")
        .agg(F.count("*").alias("c_bi"))
    )
    totals = uni.agg(
        F.sum("c_uni").cast("long").alias("t_tokens"),
        F.count("*").cast("long").alias("v_vocab"),
    )
    return uni, bi, totals


def perplexity_scores(
    docs: DataFrame,
    uni: DataFrame,
    bi: DataFrame,
    totals: DataFrame,
    key: str,
    text_col: str,
    alpha: float = 1.0,
    broadcast_model: bool = True,
) -> DataFrame:
    """Per-doc perplexity under the trained bigram LM.

    Token probability (single closed form — backoff falls out of the algebra):

    * ``p_uni(w)   = (c_uni(w) + 1) / (T + V + 1)``  (add-one over vocab+UNK;
      unseen w → 1/(T+V+1))
    * ``p(w | w_prev) = (c_bi(w_prev, w) + alpha * p_uni(w))
                        / (c_uni(w_prev) + alpha)``  — an unseen ``w_prev``
      (c_uni = 0, c_bi = 0) reduces exactly to ``p_uni(w)``.
    * first token of a doc is scored by ``p_uni`` alone.

    ``perplexity = exp(-mean log p)``. Docs with zero tokens are dropped.
    Model joins broadcast by default (vocab-bounded); pass
    ``broadcast_model=False`` to let AQE pick (web-scale vocab on a small
    cluster). Returns (key, n_tokens, perplexity)."""
    tok = tokenize_positional(docs, key, text_col)
    maybe_b = F.broadcast if broadcast_model else (lambda d: d)
    uni_w = maybe_b(uni.withColumnRenamed("c_uni", "_cu_w"))
    uni_p = maybe_b(
        uni.select(F.col("w").alias("w_prev"), F.col("c_uni").alias("_cu_prev"))
    )
    bi_j = maybe_b(bi.withColumnRenamed("c_bi", "_cb"))
    scored = (
        tok.join(uni_w, "w", "left")
        .join(uni_p, "w_prev", "left")
        .join(bi_j, ["w_prev", "w"], "left")
        .crossJoin(maybe_b(totals))
        .na.fill({"_cu_w": 0, "_cu_prev": 0, "_cb": 0})
    )
    p_uni = (F.col("_cu_w") + 1) / (F.col("t_tokens") + F.col("v_vocab") + 1)
    p_bi = (F.col("_cb") + F.lit(alpha) * p_uni) / (F.col("_cu_prev") + F.lit(alpha))
    logp = F.when(F.col("pos") == 1, F.log(p_uni)).otherwise(F.log(p_bi))
    return (
        scored.select(key, logp.alias("_lp"))
        .groupBy(key)
        .agg(F.count("*").cast("long").alias("n_tokens"), F.sum("_lp").alias("_sum_lp"))
        .select(
            key,
            "n_tokens",
            F.exp(-F.col("_sum_lp") / F.col("n_tokens")).alias("perplexity"),
        )
    )


def perplexity_buckets(scores: DataFrame, key: str, n_buckets: int = 3) -> DataFrame:
    """CCNet head/middle/tail split: ntile over ascending perplexity
    (deterministic tiebreak on key). One global sort of DOC-level rows — at
    100 TB that table is ~1e9 rows of 3 columns; if even that is too hot,
    replace with approx percentile thresholds. Labels: bucket 1 = head
    (lowest perplexity = most target-like)."""
    labels = {1: "head", 2: "middle", 3: "tail"}
    w = Window.orderBy(F.col("perplexity").asc(), F.col(key).asc())
    out = scores.withColumn("_nt", F.ntile(n_buckets).over(w))
    lab = F.create_map(*[x for kv in labels.items() for x in (F.lit(kv[0]), F.lit(kv[1]))])
    if n_buckets == 3:
        return out.select(key, "n_tokens", "perplexity", lab[F.col("_nt")].alias("bucket"))
    return out.withColumnRenamed("_nt", "bucket")


# ---------------------------------------------------------------------------
# DSIR


def _bucket(expr: Column, n_buckets: int) -> Column:
    """md5-hex → bucket id in [0, n_buckets) — DuckDB twin:
    CAST(('0x' || substr(md5(x),1,15)) AS BIGINT) % B."""
    return F.pmod(
        F.conv(F.substring(F.md5(expr), 1, 15), 16, 10).cast("long"), F.lit(n_buckets)
    )


def hashed_ngram_features(
    df: DataFrame, key: str, text_col: str, n_buckets: int = 1024
) -> DataFrame:
    """(key, bucket, cnt) hashed unigram+bigram feature counts per doc.
    Unigrams hash as 'u:<w>', bigrams as 'b:<w_prev> <w>' — disjoint
    namespaces, one shared B-bucket space as in DSIR §3."""
    tok = tokenize_positional(df, key, text_col)
    uni_b = _bucket(F.concat(F.lit("u:"), F.col("w")), n_buckets)
    bi_b = _bucket(
        F.concat(F.lit("b:"), F.col("w_prev"), F.lit(" "), F.col("w")), n_buckets
    )
    feats = tok.select(key, uni_b.alias("bucket")).unionByName(
        tok.where(F.col("w_prev").isNotNull()).select(key, bi_b.alias("bucket"))
    )
    return feats.groupBy(key, "bucket").agg(F.count("*").cast("long").alias("cnt"))


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    key: str,
    text_col: str,
    n_buckets: int = 1024,
) -> DataFrame:
    """Per-raw-doc DSIR importance log-weight.

    Bucket distributions with add-one smoothing over the B buckets:
    ``p(b) = (c_target(b) + 1) / (T_target + B)`` and likewise ``q`` from the
    raw corpus; ``log_weight(doc) = sum_b cnt_doc(b) * (ln p(b) − ln q(b))``.
    The (at most B-row) ratio table broadcasts; scoring is the doc-feature
    groupBy plus a map-side join. Returns (key, n_features, log_weight)."""
    doc_feats = hashed_ngram_features(raw, key, text_col, n_buckets)
    tgt_feats = hashed_ngram_features(target, key, text_col, n_buckets)
    q_tab = doc_feats.groupBy("bucket").agg(F.sum("cnt").alias("c_q"))
    p_tab = tgt_feats.groupBy("bucket").agg(F.sum("cnt").alias("c_p"))
    q_tot = q_tab.agg(F.sum("c_q").alias("t_q"))
    p_tot = p_tab.agg(F.sum("c_p").alias("t_p"))
    ratio = (
        q_tab.join(p_tab, "bucket", "full")
        .na.fill({"c_q": 0, "c_p": 0})
        .crossJoin(q_tot)
        .crossJoin(p_tot)
        .select(
            "bucket",
            (
                F.log((F.col("c_p") + 1) / (F.col("t_p") + F.lit(n_buckets)))
                - F.log((F.col("c_q") + 1) / (F.col("t_q") + F.lit(n_buckets)))
            ).alias("log_ratio"),
        )
    )
    return (
        doc_feats.join(F.broadcast(ratio), "bucket")
        .groupBy(key)
        .agg(
            F.sum("cnt").cast("long").alias("n_features"),
            F.sum(F.col("cnt") * F.col("log_ratio")).alias("log_weight"),
        )
    )


def dsir_resample(weights: DataFrame, key: str, k: int) -> DataFrame:
    """Deterministic top-k resample: rank by log_weight desc with an md5(key)
    tiebreak (the deterministic stand-in for DSIR's Gumbel top-k — same
    selection pressure, reproducible at any parallelism). Single doc-level
    global window."""
    w = Window.orderBy(
        F.col("log_weight").desc(), F.md5(F.col(key).cast("string")), F.col(key)
    )
    return (
        weights.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .withColumnRenamed("_rk", "rank")
    )
