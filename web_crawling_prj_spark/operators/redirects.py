"""Redirect-chain resolution — follow 3xx edges to each URL's terminal page.

A real fetcher sees ``301/302/307/308`` responses carrying ``Location``
headers; the crawl must resolve every source URL to its TERMINAL target
(that's the page that gets fetched, deduped and archived) while bounding
pathological chains — browsers and crawlers cap at a fixed hop budget and
treat longer chains/cycles as errors. The reference's client follows
redirects implicitly inside httpx (services/request_client.py); at
web scale the redirect map is a TABLE and resolution is a bounded iterative
join.

Design: ``max_hops`` driver-side iterations (the cap IS the loop bound — a
redirect budget of 8 costs at most 8 delta-sized joins, each shuffling only
the still-unresolved rows, never the resolved majority). A chain that still
has an outgoing edge after ``max_hops`` (including every cycle, which can
never terminate) comes back ``terminated = false`` — the fetch scheduler
drops or error-classifies those. Semantics are exactly reproducible as a
recursive SQL CTE → value-exact DuckDB oracle (query ``redirect_resolve``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_redirects(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 8,
    checkpoint: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """``(src, dst)`` redirect edges → ``(src, final, hops, terminated)``.

    ``final`` is the first node reached with no outgoing redirect
    (``terminated = true``, ``hops`` = edges followed), or wherever the walk
    stood after ``max_hops`` (``terminated = false`` — over-budget chain or
    cycle; a walk that lands on a terminal at exactly ``max_hops`` counts as
    terminated). Each iteration joins ONLY the still-live rows against the
    edge table; resolved rows never re-shuffle. ``edges`` must be a FUNCTION
    (one outgoing edge per src — an HTTP response carries one Location).

    ``checkpoint`` cuts each hop's lineage (default: a lazy
    ``localCheckpoint``); a caller that frees its checkpoints itself passes
    its own, e.g. the crawl round's :class:`RoundCheckpoints`."""
    if checkpoint is None:
        checkpoint = lambda df: df.localCheckpoint(eager=False)  # noqa: E731
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    state = e.select(
        F.col("_s").alias("src"),
        F.col("_d").alias("final"),
        F.lit(1).alias("hops"),
    )
    done_parts: list[DataFrame] = []
    for _ in range(max_hops - 1):
        nxt = state.join(e, state["final"] == e["_s"], "left")
        done_parts.append(
            nxt.where(F.col("_s").isNull()).select(
                "src", "final", "hops", F.lit(True).alias("terminated")
            )
        )
        state = nxt.where(F.col("_s").isNotNull()).select(
            "src", F.col("_d").alias("final"), (F.col("hops") + 1).alias("hops")
        )
        # checkpoint every hop: hop k's done rows and the next state both
        # read state k, so without the cut the final union re-runs the whole
        # join chain once per hop (quadratic in max_hops)
        state = checkpoint(state)
    # rows still holding an edge after the budget: terminated iff their
    # current node has no outgoing edge (the hop budget landed exactly on a
    # terminal), else over-budget/cycle
    last = state.join(e, state["final"] == e["_s"], "left")
    done_parts.append(
        last.select(
            "src",
            "final",
            "hops",
            F.col("_s").isNull().alias("terminated"),
        ).dropDuplicates(["src"])  # a multi-edge node would fan out the join
    )
    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.unionByName(p)
    return out
