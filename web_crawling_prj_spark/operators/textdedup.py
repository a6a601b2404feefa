"""Document deduplication family for webtext training pipelines.

Tiers, cheapest first (each is a standalone operator; a 100 TB pipeline chains
them):
1. exact: hash-groupBy on the raw text fingerprint (native xxhash64);
2. normalized-exact: case/whitespace-folded fingerprint;
3. MinHash + LSH banding: word-shingle Jaccard near-dups without any O(n²)
   compare — signatures are map-side column math, the only shuffle is the
   groupBy on (band_id, band_hash);
4. SimHash: 64-bit bit-vote fingerprint (vectorized numpy UDF), candidate
   pairs via 16-bit band equality, verified by native ``bit_count(xor)``
   Hamming distance;
5. exact n-gram Jaccard verification for candidate pairs.

Dedup decision is the standard min-representative rule: a doc survives iff no
duplicate-pair partner has a smaller doc_id — one anti-join, no union-find
needed for pair-pruning semantics (transitive clusters need iterated passes;
at web scale pipelines run the pair rule per round, which is what we model).

MinHash math: sig_i(doc) = min over shingles s of xxhash64(i, s); banding with
b bands × r rows; P(candidate) = 1-(1-j^r)^b (LSH S-curve). All JVM-side
higher-order functions — no Python in the signature path.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from web_crawling_prj_spark.functions.text import doc_fingerprint, normalized_fingerprint

logger = logging.getLogger(__name__)

_PERSIST_SEQ = [0]  # one unique token per materialization call (see below)

#: bounded ring of live fresh-persists: a long bench/oracle sweep invokes
#: dozens of operators whose cache entries would otherwise linger until the
#: Python GC + ContextCleaner get to them; evicting the oldest beyond the
#: ring keeps storage pressure flat. Early unpersist is always SAFE — the
#: data recomputes from lineage if a straggling consumer still holds it.
#: Size 3 = the entries one composed curation pass holds live at once
#: (minhash: sigs + capped bands = 2; simhash: capped bands = 1), while
#: keeping worst-case pinned storage at 3 entries even when the entries are
#: 10⁷-row frontiers.
_FRESH_RING: list = []
_FRESH_RING_MAX = 3


def _persist_fresh(df: DataFrame) -> DataFrame:
    """``persist()`` that can never be served from a PREVIOUS invocation's
    cache. Spark's CacheManager matches cached plans by canonicalized logical
    plan, so two separate calls of the same operator over the same input
    would silently share one cache entry — a repeated benchmark run then
    times cache reads instead of the computation (forbidden cross-run
    reuse). A per-call literal token column makes every invocation's plan
    distinct; within the invocation all consumers still hit the one cache
    entry, and the blocks stay LRU-evictable (unlike localCheckpoint blocks,
    which are the only copy and pin storage until GC).

    The token is a STRING literal: generated code reaches a string literal
    through a reference object, so every call compiles to the same Java
    source and reuses the compiled class. An int literal would be inlined
    into the source, making each call's plan a new class to compile."""
    _PERSIST_SEQ[0] += 1
    cached = df.withColumn("_fresh_seq", F.lit(str(_PERSIST_SEQ[0]))).persist()
    _FRESH_RING.append(cached)
    if len(_FRESH_RING) > _FRESH_RING_MAX:
        try:
            _FRESH_RING.pop(0).unpersist(blocking=False)
        except Exception:
            pass  # session already stopped — nothing to release
    return cached.drop("_fresh_seq")


def spread_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin the input across the cluster ONLY when it has fewer
    splits than ``defaultParallelism``. Everything upstream of a plan's
    first exchange inherits the scan's partitioning, and a small parquet
    (one file under ``maxPartitionBytes``) is ONE split — so a per-row
    subtree that costs far more than the scan itself (tokenize + n-gram
    build + md5, signature folds, per-vector distance math) silently runs
    on one core no matter how many the cluster has. At real scale the
    table has ≥ cores splits and this is the identity — no added exchange,
    no local-mode special-casing; the guard is scale-adaptive, the same
    rule ``brute_force_topk`` ships (measured 31 s → 3 s there, and
    19 s → 2.3 s for duplicate_ngram_spans at a 50 k-doc single-split
    input)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


# --- LSH skew defenses (shared by minhash / simhash / embedding tiers) ---
#
# Real webtext is boilerplate-heavy: one hot LSH bucket (N near-identical docs)
# turns the within-bucket pair join O(N²) — a job-killer at 100 TB. Two
# mandatory defenses:
# 1. exact-dedup PRE-PASS: byte-identical docs collapse to their min-id
#    representative BEFORE signatures; members pair with their representative
#    directly (O(group) rows, similarity exactly 1), so the clique never forms;
# 2. deterministic BUCKET CAP: at most `bucket_cap` representatives (smallest
#    ids) join within any (band, hash) bucket. The overflow is observable two
#    ways: every capped plan carries an ``observe()`` metric
#    (lsh_cap_dropped_*) that monitoring reads off the executed query for
#    free, and callers that want eager numbers pass ``stats_out`` (one extra
#    aggregation job, logged when nonzero).
# Pairs are a dedup-sufficient sparse certificate (every duplicate doc gets ≥1
# partner of smaller id), NOT the full O(g²) clique.


def _exact_groups(docs: DataFrame, id_col: str, text_col: str):
    """(representatives, intra_pairs): collapse byte-identical docs.

    representatives: one (id, text) row per distinct text (min id wins);
    intra_pairs: (id_a=rep, id_b=member) for every non-representative member.
    """
    # 128-bit md5, NOT xxhash64: at billions of docs a 64-bit birthday collision
    # (~50% at 5·10⁹) would silently merge two different documents as "exact"
    # duplicates and drop one from all LSH comparison; 128 bits pushes the
    # collision horizon past any corpus size. Same choice as exact_dup_flags.
    #
    # spread_if_narrow: when the rep-group join below is broadcast (the
    # common case), `reps` INHERITS this scan's partitioning — and every
    # signature pipeline downstream (minhash 32-seeded-hash fold, simhash
    # numpy kernel, winnowing HOF) then runs at the scan's parallelism. A
    # single-file parquet is ONE split, so the whole signature stage
    # serializes onto one core; at real scale the input has ≥ cores splits
    # and this is the identity.
    docs = spread_if_narrow(docs)
    fp = docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_text"), F.md5(F.col(text_col)).alias("_fp")
    )
    grp = fp.groupBy("_fp").agg(F.min("id").alias("_rep"))
    j = fp.join(grp, "_fp")
    reps = j.where(F.col("id") == F.col("_rep")).select("id", "_text")
    intra = j.where(F.col("id") != F.col("_rep")).select(
        F.col("_rep").alias("id_a"), F.col("id").alias("id_b")
    )
    return reps, intra


_CAP_METRIC_SEQ = [0]  # observe() names must be unique per query


def _cap_buckets(
    banded: DataFrame,
    bucket_keys: list[str],
    bucket_cap: int,
    stats_out: dict | None,
    n_salts: int = 16,
) -> DataFrame:
    """Keep the `bucket_cap` smallest ids per bucket — two-level salted rank.

    A naive ``row_number() over (partition by bucket)`` would sort a flood
    bucket (10⁸ boilerplate docs sharing one band hash) in a SINGLE task — the
    cap would bound the join but the rank itself becomes the straggler. Same
    fix as the politeness scheduler (operators.politeness W4): level 1 ranks
    within (bucket, salt) and keeps ≤ cap per salt — a flood bucket spreads
    over n_salts tasks, each sorting ~1/n_salts of it; level 2 ranks exactly
    over ≤ n_salts·cap survivors per bucket. The global smallest-`cap` set per
    bucket is provably a subset of the union of per-salt smallest-`cap` sets,
    so the result is EXACTLY the single-window ranking.

    The cut is never invisible: the plan carries observed metrics — read
    ``lsh_cap_dropped_l1_*`` + ``lsh_cap_dropped_*`` (their SUM is the total
    rows cut) from QueryExecution's observedMetrics / a listener at no cost —
    and ``stats_out`` (optional) computes exact eager counts with ONE extra
    aggregation over the input (never by re-running the signature pipeline)."""
    if stats_out is not None:
        row = (
            banded.groupBy(*bucket_keys)
            .count()
            .where(F.col("count") > bucket_cap)
            .agg(
                F.coalesce(F.sum(F.col("count") - bucket_cap), F.lit(0)).alias("d"),
                F.count("*").alias("b"),
            )
            .first()
        )
        stats_out["dropped_bucket_rows"] = row["d"]
        stats_out["overflowed_buckets"] = row["b"]
        if row["d"]:
            logger.warning(
                "LSH bucket cap %d truncated %d rows across %d hot buckets",
                bucket_cap,
                row["d"],
                row["b"],
            )
    _CAP_METRIC_SEQ[0] += 1
    seq = _CAP_METRIC_SEQ[0]
    salt = F.pmod(F.xxhash64(F.col("id")), F.lit(n_salts))
    w1 = Window.partitionBy(*bucket_keys, salt).orderBy(F.asc("id"))
    pre = banded.withColumn("_r1", F.row_number().over(w1)).observe(
        f"lsh_cap_dropped_l1_{seq}",
        F.sum((F.col("_r1") > bucket_cap).cast("long")).alias("dropped_rows_l1"),
    )
    pre = pre.where(F.col("_r1") <= bucket_cap).drop("_r1")
    w2 = Window.partitionBy(*bucket_keys).orderBy(F.asc("id"))
    ranked = pre.withColumn("_bn", F.row_number().over(w2))
    observed = ranked.observe(
        f"lsh_cap_dropped_{seq}",
        F.sum((F.col("_bn") > bucket_cap).cast("long")).alias("dropped_rows"),
    )
    return observed.where(F.col("_bn") <= bucket_cap).drop("_bn")


# --- tier 1/2: exact ---


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", normalized: bool = False) -> DataFrame:
    """Keep one representative (min id) per identical text."""
    fp = normalized_fingerprint(text_col) if normalized else doc_fingerprint(text_col)
    tagged = docs.withColumn("_fp", fp)
    keep = tagged.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return tagged.join(keep, [id_col, "_fp"], "left_semi").drop("_fp")


# --- shingling (shared by minhash / jaccard) ---

def tokens_col(text_col: Column | str) -> Column:
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    cleaned = F.lower(F.regexp_replace(t, r"[^\p{L}\p{N}]+", " "))
    return F.filter(F.split(F.trim(cleaned), " "), lambda s: s != F.lit(""))


def shingles_col(text_col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles; docs shorter than n words get one whole-doc shingle.

    Built as n-1 chained ``zip_with`` concats of the token array against its
    own shifted tails — TWO array slices per doc total — instead of the naive
    ``transform(sequence(1,k), i -> concat_ws(slice(toks,i,n)))``, whose
    per-position ``slice`` allocates a fresh subarray for every gram inside
    Spark's interpreted higher-order-function eval (HOFs never enter
    whole-stage codegen): measured 5.7× faster at sf0.1 (6.9 s → 1.2 s for
    5k docs on local[32]) with byte-identical output (equality pinned in
    tests, including <n-token and empty docs — ``zip_with`` pads the shorter
    side with nulls, ``concat_ws`` skips them, and the final slice cuts the
    padded tail so the k-th gram list matches the naive form exactly).
    Value-stability matters: these shingles feed the DuckDB-oracle-exact
    md5-minhash pipeline, so the rewrite must not change a single gram."""
    toks = tokens_col(text_col)
    # NULL text: size(NULL)=NULL would dodge the ==0 branch and make the
    # whole expression NULL — the naive form returned [""] for NULL text
    # (concat_ws over a NULL slice), and the md5-oracle parity depends on
    # NULL and empty docs staying signature-identical
    s = F.coalesce(F.size(toks), F.lit(0))
    grams = toks
    for i in range(1, n):
        shifted = F.slice(toks, i + 1, F.greatest(s - i, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat_ws(" ", a, b))
    sliced = F.slice(grams, 1, F.greatest(s - (n - 1), F.lit(1)))
    return F.array_distinct(F.when(s == 0, F.array(F.lit(""))).otherwise(sliced))


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination — the n-gram collision filter every LLM
    training pipeline runs before training (public practice: GPT-3's 13-gram
    overlap filter, Brown et al. 2020 Appendix C; PaLM/Llama report 8–13
    gram variants): flag training documents sharing at least ``min_shared``
    DISTINCT word ``shingle_n``-grams with ANY eval-set document.

    Output: one row per TRAIN doc — ``(id_col, n_shared, contaminated)``
    (clean docs included with ``n_shared = 0``, so the result is a total
    train-set annotation, joinable as a filter).

    Shape (100 TB-ready): the eval side is benchmarks — MBs, never TBs — so
    its DISTINCT gram set is the broadcast side; the train side explodes its
    (already-distinct, :func:`shingles_col`) grams and map-side joins: the
    train corpus never shuffles, the only exchange is the per-doc count
    groupBy, keyed on ``id_col``. Tokenization/shingling is byte-aligned
    with the minhash pipeline, so the whole op is DuckDB-oracle-exact
    (query ``decontamination``)."""
    tg = train.select(
        F.col(id_col), F.explode(shingles_col(text_col, shingle_n)).alias("_g")
    )
    eg = eval_set.select(
        F.explode(shingles_col(text_col, shingle_n)).alias("_g")
    ).distinct()
    hits = (
        tg.join(F.broadcast(eg), "_g")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    out = (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(id_col, F.coalesce("n_shared", F.lit(0)).alias("n_shared"))
    )
    return out.withColumn("contaminated", F.col("n_shared") >= min_shared)


# --- tier 2.5: exact duplicate-substring SPANS (sub-document dedup) ---

def positional_ngrams_col(text_col: Column | str, n: int) -> Column:
    """Word n-grams WITH implicit positions: element i (0-based) of the result
    is the gram starting at token i. Same chained zip_with construction as
    :func:`shingles_col` (and the same tokenization — the two must stay
    value-aligned), but NO array_distinct (positions matter) and docs shorter
    than n tokens yield an EMPTY array (they cannot contain an n-token span;
    shingles_col instead keeps a whole-doc shingle because set semantics want
    every doc represented)."""
    toks = tokens_col(text_col)
    s = F.coalesce(F.size(toks), F.lit(0))
    grams = toks
    for i in range(1, n):
        shifted = F.slice(toks, i + 1, F.greatest(s - i, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(s < n, F.array().cast("array<string>")).otherwise(
        F.slice(grams, 1, s - (n - 1))
    )


def duplicate_ngram_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicate-substring detection: maximal token spans whose every
    n-gram occurs ≥ ``min_count`` times in the corpus (within- or cross-doc).

    The sub-document tier of the dedup family (document-level exact/near-dup
    tiers above miss boilerplate repeated INSIDE otherwise-unique pages —
    Lee et al., "Deduplicating Training Data Makes Language Models Better",
    ACL 2022, solve this with suffix arrays on one machine; the distributed
    re-expression is positional n-gram frequency + interval merge).

    Plan (3 shuffles, all key-partial):
      1. posexplode positional n-grams, key = unhex(md5(gram)) (fixed
         16-BYTE binary shuffle key — half the 32-char hex string's bytes,
         same collision semantics as the DuckDB twin's md5 since unhex is a
         bijection of the hex digest);
      2. groupBy(gram_hash) count — partial-aggregable map-side (a hot
         boilerplate gram never floods one task; each map task emits ≤1 row
         per distinct gram); duplicated grams are the ones with count ≥
         min_count;
      3. left-semi back to occurrences (duplicated positions only —
         broadcast when the dup-gram set is small, AQE-skew-splittable join
         otherwise), then ONE per-doc window pass merges overlapping
         [pos, pos+n) intervals into maximal spans (classic running-max
         interval merge).

    ``occ`` (the exploded positional occurrences) feeds BOTH the count and
    the semi-join probe; without materialization the tokenize + 7-pass
    zip_with gram build + md5 subtree executes twice (two Generate+Scan
    branches in the plan — guide §1.2: don't compute things twice). It is
    materialized ONCE per invocation via :func:`_persist_fresh` (~24 B/token
    of evictable cache, released by the ContextCleaner when the result goes
    out of scope; the fresh-token wrapper stops the CacheManager from
    serving run 2+ of a repeated benchmark from run 1's cache).
    Measured 4.9 s → 3.2 s per cold run at 50 k docs. The count+semi-join
    shape is kept over a count-over-window single pass (2.4 s but
    skew-fragile) deliberately: a window needs every occurrence of a gram in
    ONE task, which a 10⁸-occurrence boilerplate gram turns into an
    unsplittable straggler (guide §2.5 — AQE cannot split windows), while
    partial aggregation + join skew-splitting stay bounded.

    Returns (id_col, span_start, span_end, span_tokens): token-index spans,
    end exclusive. Every returned span is ≥ n tokens and maximal."""
    occ = spread_if_narrow(docs).select(
        F.col(id_col),
        F.posexplode(positional_ngrams_col(text_col, n)).alias("pos", "gram"),
    ).select(id_col, "pos", F.unhex(F.md5("gram")).alias("gh"))
    occ = _persist_fresh(occ)
    dup_grams = occ.groupBy("gh").count().where(F.col("count") >= min_count).select("gh")
    dup_occ = occ.join(dup_grams, "gh", "left_semi").select(
        id_col, "pos", (F.col("pos") + n).alias("end")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_max = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = dup_occ.withColumn(
        "_new", F.when(prev_max.isNull() | (F.col("pos") > prev_max), 1).otherwise(0)
    ).withColumn("_grp", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        flagged.groupBy(id_col, "_grp")
        .agg(F.min("pos").alias("span_start"), F.max("end").alias("span_end"))
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
    )


# --- tier 2.6: corpus-frequency boilerplate LINE removal (CCNet-style) ---

def remove_boilerplate_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 10,
) -> DataFrame:
    """Drop lines that occur in ≥ ``min_docs`` distinct documents — the
    line-level cleaning tier (CCNet, Wenzek et al. LREC 2020, deduplicates
    hashed lines across shards to strip cookie banners / nav / footers that
    survive document-level dedup because every PAGE is unique).

    Plan: posexplode lines → md5(lower(trim(line))) key (fixed-width shuffle
    key, case/padding-insensitive matching) → countDistinct(doc) per key
    (two-phase partial agg) → left-anti occurrences vs flagged keys → per-doc
    reassembly in original line order (array_sort on (pos, line) structs —
    deterministic under any partitioning). Docs whose every line is
    boilerplate come back with clean_text = '' (left join, never dropped).

    Returns (id_col, clean_text, n_kept, n_removed)."""
    # the exploded lines feed both the distinct-doc count and the anti-join
    # probe — materialized once per invocation (evictable fresh-token persist)
    # instead of re-running the scan+split+posexplode per consumer
    lines = _persist_fresh(
        docs.select(
            F.col(id_col), F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line")
        )
    )
    key = F.md5(F.lower(F.trim(F.col("line"))))
    flagged = (
        lines.select(key.alias("lk"), id_col)
        .groupBy("lk")
        .agg(F.countDistinct(id_col).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("lk")
    )
    kept = lines.withColumn("lk", key).join(flagged, "lk", "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))), lambda x: x["line"]
            ),
            "\n",
        ).alias("clean_text"),
        F.count("*").cast("int").alias("n_kept"),
    )
    totals = docs.select(
        F.col(id_col), F.size(F.split(F.col(text_col), "\n")).alias("_n_total")
    )
    return totals.join(reassembled, id_col, "left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        (F.col("_n_total") - F.coalesce("n_kept", F.lit(0))).cast("int").alias("n_removed"),
    )


# --- tier 3: MinHash + LSH ---

def _seeded_hash(seed: str, s: Column, hash_fn: str) -> Column:
    """Seeded 64-bit hash of a string column.

    ``xxhash64`` (default): JVM-native, fastest — the production path.
    ``md5``: first 15 md5 hex chars as a long (same trick as
    operators.sketches._cms_cell) — ~40% slower but reproducible bit-for-bit
    in DuckDB (``CAST('0x'||substr(md5(...),1,15) AS BIGINT)``), which makes
    the ENTIRE minhash pipeline oracle-checkable value-for-value instead of
    golden-tested. Both are uniform enough for LSH banding."""
    if hash_fn == "md5":
        return F.conv(F.substring(F.md5(F.concat(F.lit(seed + ":"), s)), 1, 15), 16, 10).cast(
            "long"
        )
    return F.xxhash64(F.lit(int(seed.lstrip("b"))), s)


def minhash_signature(
    text_col: Column | str, num_hashes: int = 32, shingle_n: int = 3, hash_fn: str = "xxhash64"
) -> Column:
    """Array of `num_hashes` minima of seeded hashes over shingles (native).

    Built as ONE ``transform`` producing a per-shingle array of all seeded
    hashes, folded with elementwise ``least`` — NOT as `num_hashes` sibling
    ``transform`` lambdas: Spark resolves sibling higher-order-function lambdas
    in one projection to the same lambda variable and collapses them, silently
    turning 32 seeded permutations into 1 (caught by the exact-Jaccard golden
    in tests/test_query_goldens.py)."""
    sh = shingles_col(text_col, shingle_n)
    per_shingle = F.transform(
        sh, lambda s: F.array(*[_seeded_hash(str(i), s, hash_fn) for i in range(num_hashes)])
    )
    init = F.array(*[F.lit(2**63 - 1).cast("long") for _ in range(num_hashes)])
    return F.aggregate(
        per_shingle, init, lambda acc, v: F.zip_with(acc, v, lambda a, b: F.least(a, b))
    )


def minhash_bands(
    sig_col: Column | str, bands: int = 8, rows: int = 4, hash_fn: str = "xxhash64"
) -> Column:
    """Band hashes: band j = seeded hash over its r contiguous signature slots."""
    sig = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    return F.array(
        *[
            _seeded_hash(
                f"b{j}",
                F.concat_ws(",", F.transform(F.slice(sig, j * rows + 1, rows), lambda x: x.cast("string"))),
                hash_fn,
            )
            for j in range(bands)
        ]
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    bucket_cap: int = 256,
    stats_out: dict | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id_a < id_b, est_jaccard) near-dup pairs: exact groups pair with their
    representative (est_jaccard 1.0); representatives pair via LSH banding
    (≥1 shared band, capped per bucket), filtered by the signature-estimated
    Jaccard (fraction of agreeing minhashes). See skew-defense note above.
    ``hash_fn='md5'`` makes the whole pipeline DuckDB-reproducible (see
    :func:`_seeded_hash`)."""
    rows = num_hashes // bands
    reps, intra = _exact_groups(docs, id_col, text_col)
    # The signature (32 seeded hashes per shingle, folded) is BY FAR the
    # expensive projection; it feeds three consumers (banding + both sides of
    # the est-Jaccard attach), so materialize it once per invocation —
    # _persist_fresh, not a bare persist(): the CacheManager matches cached
    # plans across separate invocations and would serve a repeated run from
    # the previous run's cache (forbidden cross-run reuse). Without
    # materialization the tokenize + shingle + 32-seeded-hash subtree
    # executes once per consumer (twice in the round-6 plan).
    sigs = _persist_fresh(
        reps.select(
            "id",
            minhash_signature("_text", num_hashes, shingle_n, hash_fn).alias("sig"),
        )
    )
    # Decide-with-small-rows, attach-payload-last (guide §8): banding, the
    # bucket cap's two salted rank windows, the pair self-join, and the pair
    # dedup all run on (id, band_id, band_hash) rows — the 256-byte signature
    # arrays no longer ride through those four exchanges (round 6 shipped
    # sig_a+sig_b through the join AND the dedup). Signatures are attached
    # once per side afterwards, only for surviving deduped pairs.
    banded = sigs.select(
        "id",
        F.explode(
            F.arrays_zip(
                F.sequence(F.lit(0), F.lit(bands - 1)).alias("band_id"),
                minhash_bands("sig", bands, rows, hash_fn).alias("band_hash"),
            )
        ).alias("band"),
    ).select("id", F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash"))
    # capped band rows are 24 B each and feed both sides of the self-join:
    # materialize so the explode + two salted rank windows run once, not twice
    banded = _persist_fresh(
        _cap_buckets(banded, ["band_id", "band_hash"], bucket_cap, stats_out)
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = pairs.join(
        sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a"
    ).join(sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        / F.size(F.col("sig_a"))
    )
    rep_pairs = (
        pairs.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= jaccard_threshold)
        .drop("sig_a", "sig_b")
    )
    return rep_pairs.unionByName(intra.withColumn("est_jaccard", F.lit(1.0)))


def dedup_minhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kw,
) -> DataFrame:
    """Drop every doc that has a near-dup partner with a smaller id."""
    pairs = minhash_candidate_pairs(docs, id_col, text_col, **kw)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(losers, id_col, "left_anti")


# --- tier 5: exact n-gram Jaccard (verification) ---

def ngram_jaccard(pairs: DataFrame, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", shingle_n: int = 3) -> DataFrame:
    """Exact Jaccard for (id_a, id_b) candidate pairs via native set ops."""
    sh = docs.select(F.col(id_col).alias("id"), shingles_col(text_col, shingle_n).alias("sh"))
    out = (
        pairs.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return out.withColumn(
        "jaccard", F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(1.0))
    ).drop("sh_a", "sh_b")


# --- tier 4: SimHash ---

_SIMHASH_TOKEN_RE = "[a-z0-9]+"
_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3


@F.pandas_udf(LongType())
def simhash_from_joined_udf(joined: pd.Series, n_toks: pd.Series) -> pd.Series:
    """(tokens pre-joined with '\\n', token count) → 64-bit SimHash.

    Fully vectorized — NO Python loop over rows, tokens, or bytes: the batch's
    token text arrives as one JVM-concatenated string per row, is flattened
    into a single byte buffer, token boundaries come from one vectorized
    separator scan, the per-token FNV-1a chain runs as numpy slice ops over
    every token at once (the only loop is over byte POSITIONS, bounded by the
    longest token), and bit votes fold back per row via packed-lane
    ``add.reduceat``. Values are bit-for-bit identical to the scalar FNV-1a
    reference (tests/test_textdedup_similarity.py golden)."""
    n_rows = len(joined)
    res = np.zeros(n_rows, dtype=np.int64)
    counts = n_toks.fillna(0).to_numpy(dtype=np.int64)
    counts = np.where(joined.isna().to_numpy(), 0, counts)
    total = int(counts.sum())
    if total == 0:
        return pd.Series(res)
    # tokens are ASCII [a-z0-9]+ by construction → '\n' never collides
    buf = np.frombuffer(("\n".join(joined[counts > 0]) + "\n").encode(), dtype=np.uint8)
    ends = np.flatnonzero(buf == 10)
    tok_starts = np.concatenate(([0], ends[:-1] + 1))
    lens = ends - tok_starts
    if len(lens) != total:  # defensive: JVM size() and separator scan must agree
        raise ValueError(f"token count mismatch: {len(lens)} boundaries vs {total} sizes")

    # FNV chain over length-ASCENDING token order: at byte position j the
    # still-active tokens (len > j) are a contiguous SUFFIX — pure slice math,
    # no boolean masks, no padded byte matrix, no scatter/gather copies.
    order = np.argsort(lens, kind="stable")
    lens_s = lens[order]
    starts_s = tok_starts[order]
    h = np.full(total, _FNV_OFFSET, dtype=np.uint64)
    prime = np.uint64(_FNV_PRIME)
    for j in range(int(lens_s[-1])):  # loop over byte positions only
        i0 = int(np.searchsorted(lens_s, j, side="right"))
        b = buf[starts_s[i0:] + j].astype(np.uint64)
        h[i0:] = (h[i0:] ^ b) * prime  # wraps mod 2^64
    h_orig = np.empty_like(h)
    h_orig[order] = h

    # bit-vote: unpack each hash to 64 uint8 bit-lanes, then segment-sum the
    # uint64 VIEW — 8 byte-lanes add carry-free per reduceat word as long as a
    # segment holds ≤255 tokens, so longer rows are split into carry-safe
    # subsegments first. ~80× faster than a per-bit int64 reduceat.
    bits = np.unpackbits(h_orig.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    row_starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    nonempty = counts > 0
    rs = row_starts[nonempty]
    ne_counts = counts[nonempty]
    max_seg = 255
    n_sub = (ne_counts + max_seg - 1) // max_seg
    if int(n_sub.max()) == 1:
        sub_starts, sub_of_row = rs, None
    else:
        sub_starts = np.repeat(rs, n_sub) + np.concatenate(
            [np.arange(k) * max_seg for k in n_sub]
        )
        sub_of_row = np.searchsorted(np.repeat(np.arange(len(rs)), n_sub), np.arange(len(rs)))
    segsum = np.add.reduceat(bits.view(np.uint64), sub_starts, axis=0)
    lane = segsum.view(np.uint8).reshape(len(sub_starts), 64).astype(np.int64)
    votes = lane if sub_of_row is None else np.add.reduceat(lane, sub_of_row, axis=0)

    set_bit = (votes * 2 - ne_counts[:, None]) > 0
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    sims = (set_bit.astype(np.uint64) * weights[None, :]).sum(axis=1, dtype=np.uint64)
    res[nonempty] = sims.astype(np.int64)  # two's-complement wrap, as before
    return pd.Series(res)


def simhash64_col(text_col: Column | str) -> Column:
    """text → SimHash64. Tokenization is NATIVE (lower + regexp_extract_all,
    JVM-side, parity with ``re.findall('[a-z0-9]+', s.lower())``) and the
    token list is JVM-joined to one string, so the Arrow boundary carries two
    flat columns; only the hash/bit-vote numpy kernel crosses into Python."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.regexp_extract_all(F.lower(t), F.lit(_SIMHASH_TOKEN_RE), 0)
    # greatest(…, 0): size(NULL) is NULL under ANSI (Spark 4) but -1 under
    # legacy sizeOfNull — normalize to 0 regardless of config
    n = F.greatest(F.coalesce(F.size(toks), F.lit(0)), F.lit(0))
    return simhash_from_joined_udf(F.concat_ws("\n", toks), n)


def simhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bucket_cap: int = 256,
    stats_out: dict | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: exact groups pair with their representative
    (hamming 0); representatives block on one of four 16-bit bands (any pair
    within Hamming ≤ 3 of 64 bits must agree on ≥1 band by pigeonhole when
    distance < 4, capped per bucket), verified with native bit_count(xor)."""
    reps, intra = _exact_groups(docs, id_col, text_col)
    sh = reps.select("id", simhash64_col("_text").alias("simhash"))
    banded = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[F.struct(F.lit(j).alias("band_id"), F.shiftright("simhash", j * 16).bitwiseAND(F.lit(0xFFFF)).alias("band_val")) for j in range(4)])
        ).alias("b"),
    ).select("id", "simhash", "b.band_id", "b.band_val")
    # capped band rows feed both sides of the self-join: materialize so the
    # SimHash pandas UDF sends each representative through Python once
    banded = _persist_fresh(
        _cap_buckets(banded, ["band_id", "band_val"], bucket_cap, stats_out)
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs.where(F.col("hamming") <= max_hamming).unionByName(
        intra.withColumn("hamming", F.lit(0))
    )


# --- tier 6: winnowing fingerprint overlap (partial-copy detection) ---

def winnowing_overlap_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    min_shared: int = 3,
    bucket_cap: int = 256,
    stats_out: dict | None = None,
) -> DataFrame:
    """(id_a < id_b, shared_fps) pairs sharing ≥ min_shared winnowing
    fingerprints — catches PARTIAL overlap (a copied paragraph inside an
    otherwise different doc) that whole-doc and shingle-Jaccard tiers dilute.
    Same skew defenses as the other tiers: exact-dedup pre-pass + per-
    fingerprint bucket cap (a boilerplate fingerprint shared by N docs would
    otherwise fan out O(N²) pairs)."""
    from web_crawling_prj_spark.functions.text import winnowing_fingerprints

    reps, intra = _exact_groups(docs, id_col, text_col)
    # fingerprints feed the bucket-capped explode AND the per-doc count; the
    # capped (id, fp) rows feed BOTH sides of the self-join — materialize
    # each once per invocation (fresh-token persist, same reasoning as the
    # minhash signatures) instead of re-running the winnowing HOF subtree
    # three times. Measured 9.8 s → see OPTIMIZATION_r07.md.
    rep_fps = _persist_fresh(
        reps.select("id", winnowing_fingerprints("_text", k, window).alias("fps"))
    )
    fps = _persist_fresh(
        _cap_buckets(
            rep_fps.select("id", F.explode("fps").alias("fp")), ["fp"], bucket_cap, stats_out
        )
    )
    a, b = fps.alias("a"), fps.alias("b")
    pairs = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )
    # exact dups share every fingerprint; the representative's count (texts
    # are identical) serves all members — fingerprints never recompute over
    # the full docs table
    n_fp = rep_fps.select(F.col("id").alias("id_a"), F.size("fps").alias("_n"))
    intra_counted = intra.join(n_fp, "id_a").select(
        "id_a", "id_b", F.col("_n").cast("long").alias("shared_fps")
    )
    return pairs.unionByName(intra_counted)
