"""Sharded Bloom filter over 64-bit URL keys — the seen-set's approximate tier.

At 10^10 URLs a single Bloom filter is ~12 GB (1% fpp) — unusable as a broadcast.
The scale design is SHARDED: the seen-set is hash-partitioned into P buckets
(``pmod(url_hash, P)``); each bucket gets its own bitmap sized for its share, and
a frontier row only probes the bitmap of its own bucket. Locally we broadcast the
whole shard array; on a 1000-executor cluster each shard is still ≤ a few MB and
the array broadcasts fine, or shards are stored alongside Iceberg partitions.

Build is fully distributed: per-partition numpy bitmaps are OR-reduced. Probe is
an Arrow-vectorized pandas UDF doing pure numpy bit math (no per-row Python).
Double hashing (Kirsch–Mitzenmacher): probe_i = h1 + i*h2 over the single 64-bit
key, so no re-hashing of strings at probe time.

The Bloom tier is an OPTIMIZATION ONLY: `might_contain=false` rows are provably
unseen and skip the shuffle; `true` rows still go through the exact left-anti
join (operators.dedup) — correctness never depends on the fpp.

Reference analog: the filename seen-set scan (services/wayfair_service.py:101-164)
is the exact tier; no approximate tier exists there because it never leaves one
machine.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType


@dataclass
class ShardedBloom:
    """P independent bitmaps; shard s covers keys with pmod(key, P) == s."""

    bits: np.ndarray  # shape (P, m_bytes), dtype uint8
    num_shards: int
    m_bits: int  # bits per shard
    k: int  # probes

    @staticmethod
    def params_for(n_per_shard: int, fpp: float) -> tuple[int, int]:
        n = max(1, n_per_shard)
        m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
        m = (m + 63) // 64 * 64
        k = max(1, round(m / n * math.log(2)))
        return m, min(k, 12)


def _probe_positions(h: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing on the 64-bit key."""
    h = h.astype(np.uint64)
    h1 = h ^ (h >> np.uint64(33))
    h2 = (h * np.uint64(0xFF51AFD7ED558CCD)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    h2 |= np.uint64(1)  # odd → full period
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def build_sharded_bloom(
    seen: DataFrame,
    hash_col: str = "url_hash",
    num_shards: int = 16,
    expected_per_shard: int = 100_000,
    fpp: float = 0.01,
) -> ShardedBloom:
    """Distributed build: each input partition emits per-shard bitmaps; driver ORs.

    One pass over `seen`, shuffle-free; the reduce payload is P × m/8 bytes total
    regardless of row count.
    """
    m_bits, k = ShardedBloom.params_for(expected_per_shard, fpp)
    m_bytes = m_bits // 8
    p = num_shards

    def per_partition(it):
        local = np.zeros((p, m_bytes), dtype=np.uint8)
        any_rows = False
        for pdf in it:
            h = pdf[hash_col].to_numpy(dtype=np.int64)
            if len(h) == 0:
                continue
            any_rows = True
            shard = np.mod(h, p)  # numpy % matches Spark pmod for positive p
            pos = _probe_positions(h, m_bits, k)
            for s in range(p):
                mask = shard == s
                if not mask.any():
                    continue
                flat = pos[mask].ravel()
                np.bitwise_or.at(local[s], flat >> 3, np.uint8(1) << (flat & 7).astype(np.uint8))
        if any_rows:
            yield pd.DataFrame({"bitmap": [local.tobytes()]})

    parts = seen.select(hash_col).mapInPandas(per_partition, schema="bitmap binary").collect()
    bits = np.zeros((p, m_bytes), dtype=np.uint8)
    for row in parts:
        bits |= np.frombuffer(row.bitmap, dtype=np.uint8).reshape(p, m_bytes)
    return ShardedBloom(bits=bits, num_shards=p, m_bits=m_bits, k=k)


def broadcast_bloom(spark, bloom: ShardedBloom):
    """Ship the shard bitmaps as a broadcast variable. The CALLER owns the
    lifecycle: destroy() it once the round's jobs are done — a long crawl that
    broadcasts a fresh P×m-byte bitmap every round and never releases the old
    one accumulates them on every executor."""
    return spark.sparkContext.broadcast(bloom.bits)


def might_contain(
    bloom: ShardedBloom, hash_col: Column | str = "url_hash", spark=None, bcast=None
) -> Column:
    """Vectorized probe column. False ⇒ definitely unseen.

    Pass ``bcast`` (from :func:`broadcast_bloom`) so the bitmaps ship once per
    executor AND the caller can destroy them after the round; passing ``spark``
    instead creates a one-shot broadcast the caller cannot release (fine for
    single-query use, wrong inside a round loop).
    """
    p, m_bits, k = bloom.num_shards, bloom.m_bits, bloom.k
    if bcast is None and spark is not None:
        bcast = spark.sparkContext.broadcast(bloom.bits)
    plain_bits = None if bcast is not None else bloom.bits

    @F.pandas_udf(BooleanType())
    def _probe(h_ser: pd.Series) -> pd.Series:
        bits = bcast.value if bcast is not None else plain_bits
        h = h_ser.to_numpy(dtype=np.int64)
        if len(h) == 0:
            return pd.Series([], dtype=bool)
        shard = np.mod(h, p)
        pos = _probe_positions(h, m_bits, k)
        byte_idx = pos >> 3
        bit = (np.uint8(1) << (pos & 7).astype(np.uint8))
        hit = (bits[shard[:, None], byte_idx] & bit) != 0
        return pd.Series(hit.all(axis=1))

    c = F.col(hash_col) if isinstance(hash_col, str) else hash_col
    return _probe(c)
