"""Round-7 optimization evidence harness (separate from the FROZEN bench.py).

Reproduces the noop-sink-isolated measurements cited in OPTIMIZATION_r07.md
(guide §1.4: the noop sink computes every column of every row and discards
it, so the timing is the computation, not the sink). Prints one JSON line.

Usage:
    PYTHONPATH=/root/repo python bench_extra.py [--mult N] [--sf DIR]

--mult N replicates the sf documents/embeddings N× with shifted ids
(default 10 → the sf1.0-scale regime on sf0.1 inputs: 50k docs / 20k
vectors). Every measured variant is value-equal to the shipped operator —
this file only exists so the plan/perf claims are re-runnable.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import functions as F

from web_crawling_prj_spark.session import get_spark


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _best(fn, reps=3, label=None, spark=None):
    walls = []
    for _ in range(reps):
        if spark is not None and label:
            spark.sparkContext.setJobDescription(label)
        t0 = time.time()
        fn()
        walls.append(round(time.time() - t0, 3))
    if spark is not None:
        spark.sparkContext.setJobDescription(None)
    return {"best_s": min(walls), "walls": walls}


def _replicate(df, id_col, mult):
    out = df
    for i in range(1, mult):
        out = out.unionByName(df.withColumn(id_col, F.col(id_col) + F.lit(i * 1_000_000)))
    return out.localCheckpoint(eager=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--single-split", action="store_true", dest="single_split")
    args = ap.parse_args()

    spark = get_spark("wcp-bench-extra", shuffle_partitions=None)
    docs = _replicate(
        spark.read.parquet(f"{args.sf}/documents.parquet").select("doc_id", "text"),
        "doc_id",
        args.mult,
    )
    emb = _replicate(
        spark.read.parquet(f"{args.sf}/embeddings.parquet"), "vec_id", args.mult
    )
    n_docs, n_vecs = docs.count(), emb.count()
    out = {"sf_dir": args.sf, "mult": args.mult, "n_docs": n_docs, "n_vectors": n_vecs}

    # --- dup_ngram_spans: single-materialization count+semi-join shape ---
    from web_crawling_prj_spark.operators.textdedup import (
        duplicate_ngram_spans,
        minhash_candidate_pairs,
        positional_ngrams_col,
    )

    out["dup_ngram_spans"] = _best(
        lambda: _noop(duplicate_ngram_spans(docs, n=8, min_count=2)),
        label="spans: shipped (occ materialized once)",
        spark=spark,
    )
    # the irreducible per-task floor: gram construction alone (guide §1.2
    # order — the remaining cost is HOF evaluation, see the bake-off note)
    out["grams8_only"] = _best(
        lambda: _noop(docs.select(F.posexplode(positional_ngrams_col("text", 8)).alias("p", "g"))),
        label="spans: gram construction only",
        spark=spark,
    )

    # --- minhash: small-row banding + attach-signatures-last ---
    out["minhash_pairs"] = _best(
        lambda: _noop(
            minhash_candidate_pairs(docs, jaccard_threshold=0.5).select(
                "id_a", "id_b", F.round("est_jaccard", 4)
            )
        ),
        label="minhash: shipped",
        spark=spark,
    )

    # --- semdedup ---
    from web_crawling_prj_spark.operators.semdedup import semdedup

    out["semdedup"] = _best(
        lambda: _noop(semdedup(emb, k=8, iters=2, tau=0.4)),
        label="semdedup: shipped",
        spark=spark,
    )

    # --- frontier core anti-join: routed (bloom) vs plain, probe once ---
    import bench as frozen_bench
    from web_crawling_prj_spark.operators.bloom import broadcast_bloom, build_sharded_bloom
    from web_crawling_prj_spark.operators.dedup import anti_join_seen

    n = 2_000_000
    frontier = frozen_bench.synthetic_frontier(spark, n)
    seen = frontier.where(F.pmod(F.col("url_hash"), F.lit(5)) < 2).select("url_hash")
    bloom = build_sharded_bloom(seen, num_shards=32, expected_per_shard=n // 64, fpp=0.01)
    bcast = broadcast_bloom(spark, bloom)
    out["anti_join_routed"] = _best(
        lambda: _noop(anti_join_seen(frontier, seen, bloom=bloom, bloom_bcast=bcast)),
        label="anti-join: bloom-routed (probe materialized once)",
        spark=spark,
    )
    out["anti_join_plain"] = _best(
        lambda: _noop(anti_join_seen(frontier, seen)),
        label="anti-join: plain exact",
        spark=spark,
    )
    bcast.destroy()

    # --- single-split regime (the driver's sf1.0 layout: ONE parquet file
    # per table, so every pre-exchange subtree inherits a 1-split scan) ---
    # Reproduces the round-7 batch-7/8 evidence: the guarded spread
    # (textdedup.spread_if_narrow) is what keeps these from serializing
    # onto one core. Walls here are with the shipped (spread) code; to see
    # the trap, stub spread_if_narrow to the identity and re-run.
    if args.single_split:
        import tempfile

        with tempfile.TemporaryDirectory(prefix="wcp_ssplit_") as tmp:
            docs.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/docs")
            emb.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/emb")
            docs1 = spark.read.parquet(f"{tmp}/docs")
            emb1 = spark.read.parquet(f"{tmp}/emb")
            out["n_splits_docs1"] = docs1.rdd.getNumPartitions()
            out["ss_dup_ngram_spans"] = _best(
                lambda: _noop(duplicate_ngram_spans(docs1, n=8, min_count=2)),
                label="single-split: spans",
                spark=spark,
            )
            out["ss_minhash_pairs"] = _best(
                lambda: _noop(
                    minhash_candidate_pairs(docs1, jaccard_threshold=0.5).select(
                        "id_a", "id_b", F.round("est_jaccard", 4)
                    )
                ),
                label="single-split: minhash",
                spark=spark,
            )
            out["ss_semdedup"] = _best(
                lambda: _noop(semdedup(emb1, k=8, iters=2, tau=0.4)),
                label="single-split: semdedup",
                spark=spark,
            )

    print(json.dumps(out))


if __name__ == "__main__":
    main()
