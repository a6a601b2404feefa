"""Frontier ∖ seen — THE core crawl operator (SURVEY.md J1/U1).

Reference semantics: Python set subtraction of canonical keys
(``services/wayfair_service.py:196-252`` ``all_keys - success_keys``;
``dags/wayfair/wayfair.dag_get_all_data.py:67-70``). Here it is a left-anti
hash join on the salted 64-bit canonical-URL key, with two scale levers:

1. **Bloom prefilter** (operators.bloom): provably-unseen rows skip the
   shuffle entirely; only bloom-positive rows join exactly. With a frontier
   that is mostly already-seen (steady-state crawling), this cuts shuffle
   volume by the dup rate.
2. **Broadcast or co-partitioned join**: the per-round `seen` delta is small →
   broadcast; the full seen-set is huge → both sides are pre-partitioned by
   ``pmod(url_hash, P)`` so the anti-join shuffles only the frontier once and
   can reuse the seen-set's layout round over round (bucketed-table layout on
   a real cluster).

Also here: canonicalization-dedup of a raw URL batch (reference seed-list
dedup, ``wayfair.dag_get_all_data.py:35``) keeping the best (priority,
earliest) representative per canonical key — pure groupBy/min, no window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from web_crawling_prj_spark.operators.bloom import ShardedBloom, might_contain


def dedup_within_batch(
    frontier: DataFrame, key: str = "url_hash", prefer: list | None = None
) -> DataFrame:
    """Keep one row per key inside a batch — deterministic under any
    partitioning (min-struct, never first()-by-arrival).

    ``prefer``: ordered Column expressions that sort FIRST inside the packed
    struct (ascending min wins — negate for "highest wins"). Default: highest
    priority, then remaining columns as stable tiebreak.
    """
    other = [c for c in frontier.columns if c != key]
    if prefer is None:
        prefer = [(-F.coalesce(F.col("priority"), F.lit(0.0))).alias("_p0")]
    else:
        prefer = [p.alias(f"_p{i}") for i, p in enumerate(prefer)]
    packed = frontier.select(
        key,
        F.struct(*prefer, *[F.col(c) for c in other]).alias("_row"),
    )
    best = packed.groupBy(key).agg(F.min("_row").alias("_row"))
    return best.select(key, *[F.col(f"_row.{c}").alias(c) for c in other])


def anti_join_seen(
    frontier: DataFrame,
    seen: DataFrame,
    key: str = "url_hash",
    bloom: ShardedBloom | None = None,
    broadcast_seen: bool = False,
    spark=None,
    bloom_bcast=None,
    probe_col=None,
) -> DataFrame:
    """pending = frontier ∖ seen. Exact anti-join is always the authority;
    the filter tier only routes provably-unseen rows around the shuffle.
    ``bloom_bcast``: caller-owned broadcast of the bloom bits (see
    operators.bloom.broadcast_bloom) so round loops can release it.
    ``probe_col``: any prebuilt no-false-negative membership Column (e.g.
    operators.cuckoo.cuckoo_might_contain) used in place of the bloom
    probe; mutually exclusive with ``bloom``."""
    if bloom is not None and probe_col is not None:
        raise ValueError("pass either bloom or probe_col, not both")
    seen_keys = seen.select(key)
    if broadcast_seen:
        seen_keys = F.broadcast(seen_keys)
    if bloom is None and probe_col is None:
        return frontier.join(seen_keys, key, "left_anti")
    probe = (
        probe_col
        if probe_col is not None
        else might_contain(bloom, key, spark=spark, bcast=bloom_bcast)
    )
    # The routed split consumes the probed frontier TWICE (the definitely-new
    # branch and the candidate branch are separate filter subtrees), so
    # without materialization the frontier scan AND the per-row Python probe
    # execute twice — paying the Python boundary for every row two times to
    # route around one exchange (guide §4). Materialize the probed pass once
    # per invocation (fresh-token persist: cross-invocation-safe, evictable;
    # see textdedup._persist_fresh). Measured 1.5 s → 1.2 s on the 2M-row
    # bench core; at cluster scale it removes a full duplicate scan + probe.
    from web_crawling_prj_spark.operators.textdedup import _persist_fresh

    probed = _persist_fresh(frontier.withColumn("_maybe_seen", probe))
    definitely_new = probed.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    candidates = probed.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    survivors = candidates.join(seen_keys, key, "left_anti")
    return definitely_new.unionByName(survivors)


def anti_join_seen_layered(
    frontier: DataFrame,
    seen_parts: list[DataFrame],
    key: str = "url_hash",
) -> DataFrame:
    """Frontier ∖ seen over the tiered-store layout — the shuffle-free shape
    (the 0.67→0.8 scaling fix, VERDICT r2 #1).

    ``seen_parts``: the seen-set split the way the store keeps it — the LSM
    base tiers (oldest→newest), each stored BUCKETED on `key` with the same
    bucket count as the frontier (plans.statestore bucket_spec), then the
    un-folded rounds as one plain delta-sized scan. They are CHAINED as
    successive anti-joins: each tier join satisfies both sides'
    HashPartitioning (or broadcasts a small side), and an anti-join
    preserves the left side's partitioning, so the chain keeps the
    frontier's bucket layout intact and never moves a tier; only the delta
    scan is broadcast or shuffled. (A union of the parts would erase that:
    Spark's Union reports unknown output partitioning even over co-bucketed
    children.) Part count is bounded by the store's tiering: ≤ max_tiers + 1.
    """
    pending = frontier
    for part in seen_parts:
        pending = pending.join(part.select(key), key, "left_anti")
    return pending
