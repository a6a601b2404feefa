"""SemDeDup: semantic deduplication via embedding clustering (Abbas et al.
2023, arXiv:2303.09540).

The scale path for embedding-cosine near-dup detection: all-pairs cosine is
O(N²) and dies at web scale, so SemDeDup first k-means-clusters the
embeddings (k grows with N, so clusters stay small) and only compares pairs
WITHIN a cluster — O(Σ c_i²) ≈ O(N²/k) with perfectly shardable work.

Everything here is deterministic and value-replayable in SQL:

* **k-means** uses md5-ranked seeding (the k vectors with the smallest
  md5(id) are the initial centroids, cluster ids assigned in md5 order) and a
  fixed number of Lloyd iterations. Distances and centroid coordinates are
  rounded (6 decimals) before every argmin / next iteration so the
  assignment trajectory is identical under any partitioning and any engine's
  float-summation order.
* **dedup rule** (the paper keeps the example LEAST similar to its cluster
  centroid): within each cluster, order points by (centroid_sim ASC, id ASC)
  — the keep-priority order — and drop a point iff some EARLIER point in
  that order has cosine ≥ tau with it. One self-join per cluster; fully
  relational (no iteration), so the DuckDB twin is a single EXISTS.

Scale notes (100 TB): the centroid table is k rows → broadcast; assignment
is a map-side broadcast join with JVM-native zip_with/aggregate math
(N·k dot products, no Python); the recompute is a posexplode + two
partial-aggregable groupBys (N·d rows shuffled once per iteration); the
pairwise stage shuffles on cluster id and is bounded by the largest cluster
(pick k ≈ N/1000 per the paper; skewed clusters can be salted or capped the
same way politeness ranks are).

Reference scope: the reference pipeline has no embedding ops at all
(SURVEY.md LLM-pipeline extensions); public-paper semantics only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from web_crawling_prj_spark.operators.similarity import cosine


def _dist2(a, b):
    """Squared L2 distance between two array columns — native fold. Plain
    multiplication, not pow(x, 2): libm pow need not be bit-identical to x·x
    and the DuckDB twin multiplies."""
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def kmeans_seed_centroids(
    embeddings: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic seeding: the k vectors with the smallest
    md5(cast(id as string)) become centroids 0..k-1 in md5 order.
    (cluster int, centroid array<double>).

    Top-k via sort+limit (TakeOrderedAndProject — per-partition top-k merged
    on the driver), NOT a global row_number window: the window moved EVERY
    vector to one task to rank it (guide §2.5), the take moves k rows. The
    k-row residue is then ranked by a window that is trivially single-task."""
    key = F.md5(F.col(id_col).cast("string"))
    top = (
        embeddings.select(
            key.alias("_seed_key"),
            F.col(id_col).alias("_seed_id"),
            F.col(vec_col).alias("_seed_vec"),
        )
        .orderBy("_seed_key", "_seed_id")
        .limit(k)
    )
    w = Window.orderBy("_seed_key", "_seed_id")
    return (
        top.withColumn("_rk", F.row_number().over(w))
        .select(
            (F.col("_rk") - 1).cast("int").alias("cluster"),
            F.transform(F.col("_seed_vec"), lambda x: F.round(x.cast("double"), 6)).alias(
                "centroid"
            ),
        )
    )


#: literal-expression assignment is used up to this many k·d literals; past
#: it the Arrow/numpy tier takes over (codegen'd expressions of unbounded
#: size stress the JVM constant pool and compile time).
_LITERAL_BUDGET = 8192


def kmeans_assign(
    embeddings: DataFrame,
    centroids: DataFrame | list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str | None = None,
) -> DataFrame:
    """Nearest-centroid assignment (rounded-distance argmin, cluster-id
    tiebreak). Returns (id, vec, cluster) with ZERO shuffles — the centroid
    table is k·d doubles, so it ships to tasks as data, never via a join:

    * ``'literal'`` (default for small k·d): centroids inlined as literal
      arrays, argmin as ``array_min`` over (dist, cluster) structs — pure
      whole-stage-codegen projection.
    * ``'pandas'`` (default past _LITERAL_BUDGET; the 100 TB path for
      SemDeDup-scale k): one Arrow-batched mapInPandas with a BLAS matmul
      per batch (‖x‖² + ‖c‖² − 2x·cᵀ), distances rounded to 6 before the
      argmin exactly like the literal tier — the tiers are equality-tested.

    Both tiers collect the centroids driver-side first: k-means materializes
    each iteration anyway, and k·d is bounded by design (SemDeDup's k grows
    with N but centroids stay ~MBs at k=50k·d=768)."""
    rows = (
        sorted((r["cluster"], list(r["centroid"])) for r in centroids.collect())
        if isinstance(centroids, DataFrame)
        else sorted(centroids)
    )
    if not rows:
        raise ValueError("kmeans_assign: empty centroid set")
    dim = len(rows[0][1])
    if strategy is None:
        strategy = "literal" if len(rows) * dim <= _LITERAL_BUDGET else "pandas"

    if strategy == "literal":
        # ONE nested-array literal for the whole centroid matrix plus one for
        # the cluster ids — not k·d sibling Literal nodes: Catalyst analysis
        # of the argmin tree was the dominant per-iteration cost at small
        # k·d (0.83 s → 0.49 s per assign+recompute step measured at
        # k=8·d=64). Same arithmetic per element (zip_with fold inside
        # _dist2), same (d, cid) struct-min tiebreak — assignment equality
        # is pinned by test.
        mat = F.lit([[float(x) for x in cent] for _, cent in rows])
        cid_arr = F.lit([int(cid) for cid, _ in rows])
        best = F.array_min(
            F.transform(
                mat,
                lambda c, i: F.struct(
                    F.round(_dist2(F.col(vec_col), c), 6).alias("d"),
                    F.get(cid_arr, i).alias("c"),
                ),
            )
        )
        return embeddings.select(id_col, vec_col, best["c"].alias("cluster"))

    import numpy as np
    import pandas as pd

    cids = np.array([cid for cid, _ in rows], dtype=np.int64)
    C = np.array([cent for _, cent in rows], dtype=np.float64)
    c2 = (C * C).sum(axis=1)

    def assign_batches(batches):
        for pdf in batches:
            # values arrive as exact doubles of the stored type (float32
            # upcasts losslessly) — same numeric start as the literal tier
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            d2 = np.round((X * X).sum(axis=1)[:, None] + c2[None, :] - 2.0 * (X @ C.T), 6)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "cluster": cids[np.argmin(d2, axis=1)],  # ties → first = lowest cid
                }
            )

    from pyspark.sql.types import IntegerType, StructField, StructType

    src = embeddings.select(id_col, vec_col)
    # fresh StructType — StructType.add MUTATES the df's cached schema object
    out_schema = StructType(
        list(src.schema.fields) + [StructField("cluster", IntegerType())]
    )
    return src.mapInPandas(assign_batches, schema=out_schema)


def _recompute(assigned: DataFrame, id_col: str, vec_col: str, dim: int | None = None) -> DataFrame:
    """Element-wise mean per cluster, coordinates rounded to 6 decimals.

    With ``dim`` known (kmeans always knows it from the collected centroids):
    ONE partial-aggregable groupBy of d ``avg(vec[i])`` aggregates — no
    posexplode (which multiplied the aggregation input N×d), no second
    exchange, no collect_list reassembly. Fallback (dim=None) keeps the old
    posexplode + (cluster, pos) + ordered-reassembly path for callers that
    cannot know the width. Values are identical: same avg per position,
    same 6-decimal rounding (summation order is float-noise the rounding
    absorbs BY DESIGN — the cross-engine oracle replays this with DuckDB's
    own order)."""
    if dim is not None:
        return assigned.groupBy("cluster").agg(
            F.array(
                *[
                    F.round(F.avg(F.col(vec_col)[i].cast("double")), 6)
                    for i in range(dim)
                ]
            ).alias("centroid")
        )
    per_dim = assigned.select(
        "cluster", F.posexplode(F.col(vec_col)).alias("pos", "val")
    ).groupBy("cluster", "pos").agg(
        F.round(F.avg(F.col("val").cast("double")), 6).alias("val")
    )
    return per_dim.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "val"))), lambda s: s["val"]
        ).alias("centroid")
    )


def kmeans(
    embeddings: DataFrame,
    k: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Fixed-iteration deterministic Lloyd's. Returns (assigned, centroids):
    assigned = (id, vec, cluster), centroids = (cluster, centroid).

    ``iters`` recomputes: seed → assign → [recompute → assign] × iters.

    Each step's centroids are collected ONCE here (k·d doubles) and passed
    to :func:`kmeans_assign` / :func:`_recompute` as values: previously
    every ``kmeans_assign`` re-collected a centroid DataFrame whose lineage
    re-ran the prior step (one redundant job per iteration), and the
    returned ``cents`` DataFrame re-executed the final recompute inside the
    consumer's query. The returned centroids are now a local relation of
    the exact collected values — same numbers, zero recompute. Knowing the
    vector width also lets the recompute aggregate ``avg(vec[i])`` directly
    (one exchange) instead of posexploding N·d rows through two."""
    rows = sorted(
        (r["cluster"], list(r["centroid"]))
        for r in kmeans_seed_centroids(embeddings, k, id_col, vec_col).collect()
    )
    dim = len(rows[0][1]) if rows else 0
    assigned = kmeans_assign(embeddings, rows, id_col, vec_col)
    for _ in range(iters):
        rows = sorted(
            (r["cluster"], list(r["centroid"]))
            for r in _recompute(assigned, id_col, vec_col, dim=dim).collect()
        )
        assigned = kmeans_assign(embeddings, rows, id_col, vec_col)
    cents = embeddings.sparkSession.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in rows],
        "cluster int, centroid array<double>",
    )
    return assigned, cents


def _score_against(assigned: DataFrame, cents: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, vec, cluster, centroid_sim): rounded cosine to the assigned
    cluster's centroid — the keep-priority key."""
    return assigned.join(F.broadcast(cents), "cluster").select(
        id_col,
        vec_col,
        "cluster",
        F.round(cosine(F.col(vec_col), F.col("centroid")), 6).alias("centroid_sim"),
    )


def semdedup(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    tau: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full SemDeDup pass. Returns (id, cluster, centroid_sim, keep) for
    every input row: keep=false iff an earlier point in the cluster's
    keep-priority order (centroid_sim ASC, id ASC) has cosine ≥ tau with it.
    Cosines rounded to 6 decimals before every comparison."""
    from web_crawling_prj_spark.operators.similarity import dot, l2_norm
    from web_crawling_prj_spark.operators.textdedup import spread_if_narrow

    # the per-vector k·d assignment fold and the scoring cosine run at the
    # SCAN's parallelism (everything upstream of the first exchange does);
    # a single-file embeddings parquet is one split → one core. Guarded
    # round-robin: identity at real scale, row-wise semantics unchanged.
    embeddings = spread_if_narrow(embeddings)
    assigned, cents = kmeans(embeddings, k, iters, id_col, vec_col)
    scored = _score_against(assigned, cents, id_col, vec_col)
    # Pairwise stage, two value-exact accelerations over the round-6 shape
    # (the O(N²/k) within-cluster compare IS this operator's dominant cost —
    # 144 s at 20k vectors before, invisible to `.count()` because Catalyst
    # eliminates the distinct-keyed left join under it; bench_extra.py times
    # it honestly with the noop sink):
    # 1. norms precomputed ONCE per point — `cosine()` re-derived BOTH row
    #    norms inside every pair (3× the per-pair flops); dot/(na·nb) with
    #    hoisted norms is the bit-identical value (same fold, same order,
    #    same zero-denominator guard, same 6-decimal rounding);
    # 2. the "∃ earlier partner with cos ≥ tau" rule is a LEFT SEMI join —
    #    the hash-join probe short-circuits at each b-row's FIRST qualifying
    #    partner instead of materializing every qualifying pair and
    #    distinct-ing 10⁷ rows (inner+distinct computed every pair's cosine
    #    even after a drop was already proven).
    # (3) the join key is (cluster, salt), not cluster alone: hash-
    #     partitioning on k cluster ids caps the compare's parallelism at k
    #     tasks (k=8 → 8 of 32 cores); salting the probe side S ways and
    #     exploding the build side ×S (the politeness-rank salting pattern,
    #     guide §2.5) spreads each cluster's slice over S tasks with
    #     identical match semantics.
    spark_ctx = scored.sparkSession.sparkContext
    n_salts = max(1, min(16, (spark_ctx.defaultParallelism + max(1, k) - 1) // max(1, k)))
    norm = l2_norm(F.col(vec_col))
    a = scored.select(
        F.col("cluster").alias("_a_cluster"),
        F.col(id_col).alias("_a_id"),
        F.col(vec_col).alias("_a_vec"),
        F.col("centroid_sim").alias("_a_sim"),
        norm.alias("_a_norm"),
    ).withColumn("_a_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    b = scored.select(
        F.col("cluster"),
        F.col(id_col).alias("_b_id"),
        F.col(vec_col).alias("_b_vec"),
        F.col("centroid_sim").alias("_b_sim"),
        norm.alias("_b_norm"),
    ).withColumn("_salt", F.pmod(F.xxhash64(F.col("_b_id")), F.lit(n_salts)).cast("int"))
    earlier = (F.col("_a_sim") < F.col("_b_sim")) | (
        (F.col("_a_sim") == F.col("_b_sim")) & (F.col("_a_id") < F.col("_b_id"))
    )
    denom = F.col("_a_norm") * F.col("_b_norm")
    pair_cos = F.round(
        F.when(denom > 0, dot(F.col("_a_vec"), F.col("_b_vec")) / denom).otherwise(F.lit(0.0)),
        6,
    )
    # the trailing distinct is a semantic no-op (semi-join output is one row
    # per b) but PROVES key uniqueness to Catalyst, so a consumer that never
    # reads `keep`'s provenance (e.g. a bare count) can still eliminate the
    # final left join — the same elimination the round-6 inner+distinct
    # shape allowed
    dropped = (
        b.join(
            a,
            (F.col("cluster") == F.col("_a_cluster"))
            & (F.col("_salt") == F.col("_a_salt"))
            & earlier
            & (pair_cos >= tau),
            "left_semi",
        )
        .select(F.col("_b_id").alias(id_col))
        .distinct()
    )
    return (
        scored.join(dropped.withColumn("_drop", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "cluster",
            "centroid_sim",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"),
        )
    )
