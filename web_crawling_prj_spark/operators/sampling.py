"""Deterministic sampling and packing for training-data pipelines.

Exact stratified sampling and sequence packing — the sampling shapes a 100 TB
corpus pipeline needs. Both are pure column math (md5-ranked), so results
are reproducible at any parallelism, resumable mid-pipeline and checkable
against DuckDB (no F.rand in the data plane).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def stratified_exact_sample(
    df: DataFrame, strata: list[str], fraction: float, key: str
) -> DataFrame:
    """EXACT stratified allocation: keep ceil(fraction · n) rows per stratum
    (hash-rate sampling only hits the fraction in expectation — tiny
    strata can end up empty or doubled, which skews a curated language/
    quality mix). Rows are chosen by md5(key) rank — a deterministic
    pseudo-random order that is partitioning-independent AND DuckDB-
    reproducible, so the sampled doc SET itself is oracle-checkable. Two
    windows over the same stratum partitioning → one shuffle."""
    w = Window.partitionBy(*strata)
    order = w.orderBy(F.md5(F.col(key).cast("string")), F.col(key))
    return (
        df.withColumn("_n", F.count("*").over(w))
        .withColumn("_rk", F.row_number().over(order))
        .where(F.col("_rk") <= F.ceil(F.col("_n") * fraction))
        .drop("_n", "_rk")
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    key: str,
    max_tokens: int = 2048,
    n_shards: int = 64,
) -> DataFrame:
    """Greedy document→training-sequence packing: assign whole docs to bins of
    ~``max_tokens`` budget (the standard LLM pretraining packing step;
    concatenation + attention-masking happens downstream).

    Sharded-by-hash packing: a global greedy order would need a GLOBAL prefix
    sum (one task, or a driver-coordinated offset pass); real pipelines pack
    within shards because bin quality only depends on LOCAL fill, not global
    order. Each doc lands in shard md5-hash(key) mod n_shards (md5-hex
    arithmetic, not xxhash64, so the shard assignment is DuckDB-oracle-
    reproducible like everything else here); within a
    shard, docs are ordered by md5(key) (deterministic) and a running token
    cumsum assigns bin = floor((cumsum - n_tokens) / max_tokens) — every bin
    fills to ≥ max_tokens before the next opens (the last doc of a bin may
    overhang; callers that truncate instead should slice downstream). Docs
    longer than max_tokens still get a bin of their own plus overhang. ONE
    shuffle (the shard window); bins are (shard, bin) composite ids."""
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 15), 16, 10).cast("long"),
        F.lit(n_shards),
    )
    w = Window.partitionBy("_shard").orderBy(F.md5(F.col(key).cast("string")), F.col(key))
    cum = F.sum(token_col).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        df.withColumn("_shard", shard)
        .withColumn("_cum", cum)
        .select(
            *df.columns,
            F.col("_shard").cast("int").alias("shard"),
            F.floor((F.col("_cum") - F.col(token_col)) / max_tokens)
            .cast("int")
            .alias("bin"),
            F.pmod(F.col("_cum") - F.col(token_col), F.lit(max_tokens))
            .cast("long")
            .alias("bin_offset_tokens"),
        )
    )
