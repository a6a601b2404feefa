"""The crawl round — the engine's flagship plan.

Reference lifecycle being re-expressed (SURVEY.md §3.1, dags/common/
base_source_dag.py): branch(mode) → build frontier → dedup vs seen → schedule
batches with politeness → fetch with retries → persist results + summary.
Here every boundary is a stage of one declarative round plan. Three
barriers — the robots-flagged live view, the schedule and the fetch log —
are checkpointed and computed where the round reaches them; the commit's
writes execute the rest from the fetch log's checkpoint (measured: 37 Spark
jobs per round on perfbench's crawl_backlog at local[4], most of them small):

    frontier_log ──(latest event per key over tiers + recent rounds)──► live
    live ──(pending_frontier: backoff gate)──► pending
    pending ──(_robots_gate, broadcast)──► allowed ∪ disallowed keys
    allowed ──(_circuit_breaker: open hosts sit out)──► allowed, budgets
    allowed ──(_schedule: blends, salted 2-level top-k per host)──► scheduled
    scheduled ──(_fetch: synthetic fetch + Arrow extract, classify)──► fetch_log
    fetch_log ──(_retries: budgets, backoff)──► retries
    fetch_log ──(_discover: outlinks, redirect terminals, focus)──► discovered
    retries ∪ discovered ∪ incumbents ──(_winners: dedup)──► winners
    fetch_log ──(_seen_delta, _round_aggregates)──► seen_delta, metrics,
        host_state, run_report
    winners ──(_frontier_events: left-anti vs seen)──► adds; scheduled and
        disallowed keys ──► tombstones
    commit atomically (_run_round), then _post_commit_report (abort check)
    every compact_every rounds: fold seen_delta and frontier_log into tiers

Scale decisions, explicit:
- frontier_log and the seen-set fold tiers are bucketed on url_hash (P
  buckets); the un-folded rounds are plain parquet, read as one delta-sized
  scan. The live view is one pushed-down scan per tier plus delta-sized
  joins, and it is seen-clean by construction — the seen-set is probed only
  at write time, against the round's delta-sized winners: one co-located
  (or broadcast) anti-join per seen tier, one against the un-folded seen
  deltas;
- the churn-key joins (tier shadowing, recent-event keys, the incumbent
  probe) carry no hints: Spark's autoBroadcastJoinThreshold picks broadcast
  or co-located merge, as it always has for the seen filter. Every branch
  keeps the bucket layout, so neither choice moves the backlog;
- budgets/robots are per-host (tiny) → broadcast joins, never shuffled;
- hot-host skew bounded by the salted two-level rank (operators.politeness);
- the fetch join cuts the page store to the batch first (a left-semi join
  against the broadcast batch keys), so the 100 TB side never moves;
- every frame the round keeps — the resolved recent churn (it feeds every
  live branch), the three barriers (robots-flagged live view, schedule,
  fetch log) and the redirect edges and terminals — is a lazy
  localCheckpoint, not a persisted plan: each is computed once by one
  chain of jobs, and every later plan — above all the commit writes —
  starts from a small LogicalRDD instead of re-analysing the nested round.
  Trade-off: checkpoint blocks have no lineage, so a lost executor fails
  the round before its commit instead of recomputing the lost partitions;
  nothing is committed, and resume reruns the round. Checkpoints are freed
  when the next round starts (RoundCheckpoints), which bounds memory to
  one round's frames;
- per-partition lineage counters are computed by seen-bucket (deterministic,
  unlike spark_partition_id) and land in the metrics table each round.

Determinism: every ordering is (priority DESC, url_hash), every random draw is
a seeded hash → identical crawl ordering and final seen-set at local[8] vs
local[32] and across kill/resume (tests/test_crawl_round.py).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from web_crawling_prj_spark.functions.hashing import bucket_of, url_hash
from web_crawling_prj_spark.functions.urls import host_of
from web_crawling_prj_spark.operators.dedup import anti_join_seen_layered, dedup_within_batch
from web_crawling_prj_spark.operators.fetch import discover_outlinks, synthetic_fetch
from web_crawling_prj_spark.operators.politeness import host_budgets, schedule_round
from web_crawling_prj_spark.operators.retry import classify_fetch_log, update_circuit_state
from web_crawling_prj_spark.operators.robots import gate_frontier_flagged
from web_crawling_prj_spark.plans.statestore import StateStore

#: the frontier row (PAPER.md §1.1) — the one schema every frontier frame
#: has: live view, pending, tombstones and the empty frontier
FRONTIER_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("url_canon", StringType()),
        StructField("url_hash", LongType()),
        StructField("host", StringType()),
        StructField("priority", DoubleType()),
        StructField("depth", IntegerType()),
        StructField("discovered_ts", TimestampType()),
        StructField("src_url_hash", LongType()),
        StructField("attempt", IntegerType()),
        StructField("next_eligible_ts", TimestampType()),
    ]
)
FRONTIER_COLS = FRONTIER_SCHEMA.fieldNames()

#: frontier-as-event-log layout: each round commits only
#: its CHANGES — adds (full replacement rows: retries, discovery winners) and
#: dels (key-only tombstones: scheduled + robots-disallowed keys). The live
#: frontier is per-key latest-event-wins over (evt_round, add-beats-del).
FRONTIER_LOG_COLS = [*FRONTIER_COLS, "evt_round", "is_del"]


def _encode_url(log: DataFrame) -> DataFrame:
    """A frontier_log write's stored ``url``: NULL where it equals
    ``url_canon``. Discovered links, retries and redirect terminals are
    canonical by construction and most seeds already are, so each URL is
    stored once; only a seed whose raw form differs keeps both. ``url``
    never decides the latest-event resolution (``(evt_round, is_add)`` is
    unique per key per round), so folds carry the stored form unchanged."""
    return log.withColumn("url", F.when(F.col("url") != F.col("url_canon"), F.col("url")))


def _decode_url(log: DataFrame) -> DataFrame:
    """Stored frontier_log rows → FRONTIER_SCHEMA rows, ``url`` restored from
    ``url_canon`` where the write left it NULL. Rows stored with a full
    ``url`` (stores written before the encoding) read unchanged."""
    return log.select(
        *[
            F.coalesce(F.col("url"), F.col("url_canon")).alias(c) if c == "url" else F.col(c)
            for c in FRONTIER_COLS
        ]
    )


_STATE_COLS = [c for c in FRONTIER_COLS if c != "url_hash"]


@dataclass
class CrawlConfig:
    # seen-set/frontier shards (P). Sizing rule: bucketed scans cap their
    # parallelism at P (one task per bucket), so set P ≥ total executor cores
    # on a real cluster (e.g. 4096 for 1000 executors) — small P costs
    # parallelism, large P only costs file count (one file per bucket/round).
    num_buckets: int = 16
    n_salts: int = 16  # politeness skew salts
    round_duration_ms: int = 30_000
    max_per_host: int = 40
    default_budget: int = 40
    links_per_page: int = 3
    failure_per_mille: int = 28
    base_ts: str = "2025-06-01 00:00:00"
    # blend link-graph PageRank into frontier priority each round (0 = off).
    # Deterministic (power iteration over committed lineage), so resume/
    # parallelism invariants hold with it enabled.
    pagerank_weight: float = 0.0
    # focused crawling (operators.focus, WWW'99): when focus_weight > 0 and
    # focus_terms is non-empty, each round BM25-scores the pages it fetched
    # against the terms and blends the parent's saturated relevance into the
    # priority of the links that page discovered (children of off-topic or
    # text-less parents blend 0). Delta-sized — the scorer sees only this
    # round's fetch log — and deterministic (rounded sums), so resume /
    # parallelism invariants hold with it enabled. Default off: flagship
    # ordering unchanged.
    focus_terms: tuple = ()
    focus_weight: float = 0.0
    # crawl-trap budgeting (operators.traps): cap how many URLs of one URL
    # TEMPLATE (volatile tokens collapsed) may be scheduled per round
    # (0 = off). Cut rows are NOT dropped — they stay live in the log (never
    # tombstoned), so a trap drains at cap/round while the rest of its host's
    # budget goes to real pages.
    trap_max_per_template: int = 0
    # fold seen_delta round dirs into a bucketed base every K rounds so the
    # per-round seen-set scan lists O(1+K) paths forever (0 = off). Pure
    # file-layout rewrite, never a semantics change; resume-safe (atomic
    # pointer swap, old dirs kept).
    compact_every: int = 8
    # LSM fold width for BOTH state tables (seen_delta concatenation tiers,
    # frontier_log event tiers). Minor folds touch only the rounds since the
    # newest tier — O(window churn); a major fold (all tiers merge, the only
    # O(live) job left) runs every fold_max_tiers·compact_every rounds, i.e.
    # amortized O(live / (fold_max_tiers·compact_every)) per round.
    fold_max_tiers: int = 4
    # reclaim per-round dirs already folded into a base tier right after each
    # fold (opt-in: it forfeits read_round/read_all history below the fold
    # floor — keep it off for audit-grade stores). Kill-safe: only superseded
    # dirs are touched, so a partial vacuum never affects current-head reads
    # and the next fold's vacuum finishes the job.
    vacuum_after_fold: bool = False
    # WARC archive sidecar (sources.warc): when set, every committed round's
    # successful fetches are exported as WARC/1.0 response records under
    # warc_dir/round=NNNNNN/ (num_buckets files, bucketed by url_hash — the
    # object-store layout real crawls ship, Common Crawl analog). Derived
    # artifact: a pure function of committed state, rebuilt by the resume
    # catch-up sweep if a kill lands between commit and archive.
    warc_dir: str | None = None
    # replayability knobs (both default to the xxhash-keyed fast paths):
    # - schedule_tiebreak: ascending column breaking per-host priority ties in
    #   the politeness rank ("url_canon" → total order an ANSI-SQL engine can
    #   reproduce; semantics of the exact top-k are unchanged either way);
    # - fetch_roll_mode: synthetic-fetch failure draw ("doc" → pure integer
    #   arithmetic over (page_doc_id, round_id), DuckDB-expressible).
    # Together they make a whole crawl value-replayable by the independent
    # event-replay oracle (query crawl_rounds_replay).
    schedule_tiebreak: str = "url_hash"
    fetch_roll_mode: str = "xxhash"
    # redirect following (operators.redirects wired into discovery): when the
    # synthetic web injects 3xx pages (redirect_per_mille > 0, per-PAGE draw),
    # each round resolves the 3xx rows' chains to TERMINAL targets — bounded
    # by redirect_max_hops; cycles/over-budget chains never enqueue — and the
    # terminals (not the intermediates) enter the next frontier. The 3xx
    # source URL itself is terminal (class 'redirect', budget 0 → seen).
    redirect_per_mille: int = 0
    redirect_max_hops: int = 8
    extra: dict = field(default_factory=dict)

    def round_ts(self, round_id: int) -> str:
        # each round advances wall-clock by round_duration (driver-side, deterministic)
        from datetime import datetime, timedelta

        t0 = datetime.fromisoformat(self.base_ts)
        return (t0 + timedelta(milliseconds=round_id * self.round_duration_ms)).isoformat(sep=" ")


def crawl_store(root: str, cfg: CrawlConfig | None = None) -> StateStore:
    """The crawl's StateStore: frontier_log and seen-set fold tiers BUCKETED
    on url_hash with cfg.num_buckets — the layout that keeps the live view's
    tier joins and the write-time seen filter free of backlog-sized
    exchanges (each task reads its own bucket from both sides; see
    tests/test_plan_shapes.py). Per-round dirs stay plain parquet: they hold
    only the churn since the last fold. Iceberg analog: bucket(N, url_hash)
    partition transform on both tables."""
    cfg = cfg or CrawlConfig()
    spec = {
        "frontier_log": ("url_hash", cfg.num_buckets),
        "seen_delta": ("url_hash", cfg.num_buckets),
    }
    return StateStore(root, bucket_spec=spec)


def frontier_from_seeds(seeds: DataFrame) -> DataFrame:
    """Seeds → frontier rows: strip tracking params, canonicalize, hash,
    dedup within batch.

    Tracking-param stripping (functions.urls.strip_tracking_params, fully
    native) runs BEFORE canonicalization so utm_/gclid-style click-id aliases
    of one page collapse onto one canonical key before the seen-set ever
    sees them — otherwise every ad-click alias re-enters the frontier as a
    "new" URL (reference analog: canonical-key identity,
    services/wayfair_service.py:166-194). The original ``url`` column is
    preserved verbatim; only the canonical key is built from the cleaned
    form. Canonicalization itself is HYBRID
    (functions.urls.canonicalize_urls_hybrid): provably-already-canonical
    URLs — the steady-state majority, since discovered links come out of OUR
    extractor against canonical base URLs — bypass the Arrow UDF through a
    codegen predicate; equality with the pure UDF path is property-tested."""
    from web_crawling_prj_spark.functions.urls import (
        canonicalize_urls_hybrid,
        strip_tracking_params,
    )

    stripped = seeds.withColumn("_url_clean", strip_tracking_params(F.col("url")))
    f = (
        canonicalize_urls_hybrid(stripped, "_url_clean", "url_canon")
        .drop("_url_clean")
        .withColumn("url_hash", url_hash("url_canon"))
        .withColumn("host", host_of("url_canon"))
        .withColumns(
            {
                "depth": F.coalesce(F.col("depth"), F.lit(0)),
                "discovered_ts": F.lit(None).cast("timestamp"),
                "src_url_hash": F.lit(None).cast("long"),
                "attempt": F.lit(0),
                "next_eligible_ts": F.lit(None).cast("timestamp"),
            }
        )
        .select(*FRONTIER_COLS)
    )
    return dedup_within_batch(f, key="url_hash")


def init_crawl(spark: SparkSession, store: StateStore, seeds: DataFrame, cfg: CrawlConfig) -> None:
    """Round 0: commit the seed frontier as round-0 add events. The seen-set
    starts empty, so round 0 writes no seen_delta."""
    frontier = frontier_from_seeds(seeds).repartition(cfg.num_buckets, "url_hash")
    log0 = _encode_url(
        frontier.withColumns({"evt_round": F.lit(0), "is_del": F.lit(False)}).select(
            *FRONTIER_LOG_COLS
        )
    )
    store.commit_round(0, {"frontier_log": log0}, extra_meta={"kind": "init"})


class RoundCheckpoints:
    """The crawl round's checkpointed frames, held until the NEXT round
    starts.

    ``localCheckpoint`` cuts a frame's lineage: every later plan starts from
    a small ``LogicalRDD`` instead of re-analysing the nested round. Its
    blocks are not a cached relation, so ``DataFrame.unpersist`` does not
    free them — the holder keeps each checkpoint's RDD and unpersists that.
    They are freed when the next round starts, not when the round returns
    or raises: a caller may still read the round's frames after
    :func:`run_round` returns, and memory stays bounded by one round's
    frames either way. Blocks of a stopped SparkContext died with it and
    are only forgotten."""

    def __init__(self) -> None:
        self._rdds: list = []
        self._sources: list[DataFrame] = []
        self._sc = None

    def checkpoint(self, df: DataFrame) -> DataFrame:
        out = df.localCheckpoint(eager=False)
        self._rdds.append(out._jdf.queryExecution().logical().rdd())
        # the lazy checkpoint's first job still reports to the source plan's
        # SQL metrics: keep the source referenced so they are not collected
        self._sources.append(df)
        return out

    def release(self, spark: SparkSession) -> None:
        if self._sc is spark.sparkContext:
            for rdd in self._rdds:
                rdd.unpersist(False)
        self._rdds, self._sources = [], []
        self._sc = spark.sparkContext


#: the one holder of the current round's checkpoints (see RoundCheckpoints)
round_checkpoints = RoundCheckpoints()


def run_round(
    spark: SparkSession,
    store: StateStore,
    pages: DataFrame,
    robots: DataFrame,
    round_id: int,
    cfg: CrawlConfig,
) -> dict:
    """Execute one crawl round and commit its state atomically.

    The previous round's checkpoints are freed first (:class:`RoundCheckpoints`).
    Every frame this round keeps is one of its checkpoints, which live until
    the next round starts — on every exit path, the failure-threshold abort
    and an unexpected error included — so the round caches nothing a later
    round could find leaked."""
    round_checkpoints.release(spark)
    return _run_round(spark, store, pages, robots, round_id, cfg)


def _resolve_events(log: DataFrame) -> DataFrame:
    """THE latest-event-wins resolution — the one place its ordering lives
    (the live read path and the compaction resolver MUST agree or increment
    ≡ full breaks): max(struct(evt_round, is_add, state)) per key — the
    newest round wins, an add beats a del within its own round (the del
    tombstones OLDER versions; its round's replacement row supersedes it).
    Output: winner state per key in FRONTIER_LOG_COLS shape (is_del=true
    rows mark keys whose latest event is a tombstone)."""
    packed = log.select(
        "url_hash",
        F.struct(
            F.col("evt_round"),
            (~F.col("is_del")).alias("is_add"),
            *[F.col(c) for c in _STATE_COLS],
        ).alias("_e"),
    )
    resolved = packed.groupBy("url_hash").agg(F.max("_e").alias("_e"))
    return resolved.select(
        "url_hash",
        *[F.col(f"_e.{c}").alias(c) for c in _STATE_COLS],
        F.col("_e.evt_round").alias("evt_round"),
        (~F.col("_e.is_add")).alias("is_del"),
    )


def live_frontier_parts(
    spark: SparkSession,
    store: StateStore,
    upto_round: int,
    cfg: CrawlConfig,
    checkpoint: Callable[[DataFrame], DataFrame] | None = None,
) -> list[DataFrame]:
    """The live frontier as a LIST of branches whose union is the live view,
    each branch keeping the store's HashPartitioning(url_hash, num_buckets)
    bucket layout — the union erases it (Spark's Union reports unknown
    output partitioning), so callers that need co-located probes (the
    incumbent lookup) join the branches, not the union.

    Branches: one per base tier (oldest→newest) + one for the resolved
    recent churn — the per-key latest event over the un-folded rounds (one
    plain scan of Σ round churn since the last fold), repartitioned ONCE to
    the tiers' bucket layout, so the tier joins against it co-locate. It
    feeds every branch, so it goes through ``checkpoint`` when one is passed
    (``DataFrame -> DataFrame``, e.g. ``round_checkpoints.checkpoint``);
    ``None`` keeps it lazy.
    Per tier: live rows (``~is_del`` pushed into the scan — a
    non-terminal tier carries tombstones targeting older tiers) ∖ keys of
    every NEWER tier ∖ recent-event keys. The joins carry no hints: Spark
    broadcasts a key set under ``spark.sql.autoBroadcastJoinThreshold`` and
    otherwise merges co-located — both tier scans are bucketed and the
    resolved aggregation carries the same partitioning, so neither choice
    moves the backlog. Per-round cost: one pushed-down scan of each tier +
    delta-sized everything else.

    Returns the branches, in FRONTIER_COLS shape, each with ``url`` decoded
    (:func:`_decode_url`)."""
    bases, deltas = store.read_parts(spark, "frontier_log", up_to=upto_round)
    resolved = None
    if deltas:  # one plain scan over the un-folded rounds
        resolved = _resolve_events(deltas[0].repartition(cfg.num_buckets, "url_hash"))
        if checkpoint is not None:
            resolved = checkpoint(resolved)
    parts: list[DataFrame] = []
    for i, b in enumerate(bases):  # oldest→newest
        branch = _decode_url(b.where(~F.col("is_del")))
        for newer in bases[i + 1 :]:
            branch = branch.join(newer.select("url_hash"), "url_hash", "left_anti")
        if resolved is not None:
            branch = branch.join(resolved.select("url_hash"), "url_hash", "left_anti")
        parts.append(branch)
    if resolved is not None:
        parts.append(_decode_url(resolved.where(~F.col("is_del"))))
    return parts


def _empty_frontier(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], FRONTIER_SCHEMA)


def live_frontier(
    spark: SparkSession,
    store: StateStore,
    upto_round: int,
    cfg: CrawlConfig,
    checkpoint: Callable[[DataFrame], DataFrame] | None = None,
    parts_out: list | None = None,
) -> DataFrame:
    """The live frontier as of committed round ``upto_round``: the union of
    :func:`live_frontier_parts` — tier branches ∖ newer-layer keys ∪ recent
    adds. Each tier is touched by exactly ONE pushed-down scan per round —
    O(live) read, O(churn) everything else; nothing is ever rewritten to
    schedule a round. The live view is disjoint from the seen-set by
    construction (adds are seen-filtered at write time, and every key
    entering the seen-set is tombstoned the same round), so pending needs no
    read-time seen join at all. ``parts_out``: optional list the branches
    are appended to (same contract as live_frontier_parts) for callers that
    also need the layout-preserving branches."""
    parts = live_frontier_parts(spark, store, upto_round, cfg, checkpoint=checkpoint)
    if parts_out is not None:
        parts_out.extend(parts)
    if not parts:
        # no parts with rows. Every committed frontier_log round leaves a
        # parquet file (an empty round a schema-only one), so either the
        # frontier DRAINED into an empty tier (empty bucketed writes emit no
        # files) or this store has no frontier event log at all.
        if store.base_upto("frontier_log") is not None:
            return _empty_frontier(spark)
        raise ValueError(
            f"no frontier_log state up to round {upto_round} — this store has "
            "no frontier event log; it was not created by init_crawl/run_crawl"
        )
    live = parts[0]
    for p in parts[1:]:
        live = live.unionByName(p)
    return live


def pending_frontier(
    spark: SparkSession,
    store: StateStore,
    round_id: int,
    cfg: CrawlConfig,
    checkpoint: Callable[[DataFrame], DataFrame] | None = None,
    parts_out: list | None = None,
) -> DataFrame:
    """Steps 0–1 of a round: the live view as of the previous round, cut to
    the rows whose backoff has passed → pending. Rows still backing off stay
    live in the log untouched.

    This is THE scale-critical plan of the steady state: the live view comes
    from :func:`live_frontier` — one bucketed scan per tier + delta-sized
    joins against the resolved recent churn, with Spark choosing broadcast
    or co-located merge for each. No seen join exists at read time because
    the log is kept seen-clean at write time (tests/test_plan_shapes.py pins
    the shape on this exact function)."""
    round_ts = F.lit(cfg.round_ts(round_id)).cast("timestamp")
    frontier = live_frontier(
        spark, store, round_id - 1, cfg, checkpoint=checkpoint, parts_out=parts_out
    )
    # backoff gate (reference C10): only rows whose next_eligible_ts has
    # passed; live ∩ seen = ∅ by construction → pending IS the eligible set
    return frontier.where(
        F.col("next_eligible_ts").isNull() | (F.col("next_eligible_ts") <= round_ts)
    )


def _link_lineage(
    spark: SparkSession, store: StateStore, round_id: int, cfg: CrawlConfig, max_doc_id: int | None
) -> DataFrame | None:
    """Link-graph edges (src_url_hash → url_hash) for PageRank priorities,
    re-derived from the committed fetch_log (outlinks are a pure function of
    fetched pages) — the frontier log stores each discovery winner once, so
    it does not carry every edge."""
    log = store.read_all(spark, "fetch_log", up_to=round_id - 1)
    if log is None:
        return None
    edges = discover_outlinks(log, links_per_page=cfg.links_per_page, max_doc_id=max_doc_id)
    return edges.select("src_url_hash", "url_hash")


def _pagerank_priority(
    spark: SparkSession,
    store: StateStore,
    round_id: int,
    cfg: CrawlConfig,
    df: DataFrame,
    max_doc_id: int | None,
) -> DataFrame:
    """Scheduling-time PageRank blend: full-history lineage → pagerank →
    normalized scores, recomputed every round from committed state, so
    kill/resume and reruns blend the same scores."""
    from web_crawling_prj_spark.operators.graph import blend_priority, normalized_pagerank

    link_log = _link_lineage(spark, store, round_id, cfg, max_doc_id)
    if link_log is None:
        return df
    return blend_priority(df, normalized_pagerank(link_log), weight=cfg.pagerank_weight)


def _robots_gate(pending: DataFrame, robots: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Step 2, robots gate (broadcast join + codegen'd prefix predicate) →
    ``(allowed, disallowed_keys)``. Checkpointed HERE so the allowed and
    disallowed branches do not each re-run the live-view reconstruction, and
    every later plan starts from the checkpoint instead of the nested live
    view. Both outcomes of the gate are kept: disallowed keys become
    frontier tombstones."""
    flagged = round_checkpoints.checkpoint(gate_frontier_flagged(pending, robots))
    allowed = flagged.where(F.col("robots_allowed")).drop("robots_allowed")
    disallowed_keys = flagged.where(~F.col("robots_allowed")).select("url_hash")
    return allowed, disallowed_keys


def _circuit_breaker(
    spark: SparkSession,
    store: StateStore,
    round_id: int,
    round_ts: str,
    allowed: DataFrame,
    robots: DataFrame,
    cfg: CrawlConfig,
) -> tuple[DataFrame, DataFrame | None, DataFrame]:
    """Step 3, circuit breaker (reference C12) → ``(allowed, prev_host_state,
    budgets)``. Hosts with open circuits sit out this round but their URLs
    are DEFERRED, not dropped — they stay live in the log untouched
    (quarantine is temporal, never data loss). Circuit state is maintained
    INCREMENTALLY: each round folds only its own fetch log into the committed
    host_state table (O(round), not O(history)). A HALF_OPEN host (reference
    error_handler.py:223-256: recovery window passed but no success has reset
    the streak yet) gets a politeness budget of ONE probe URL."""
    prev_host_state = None
    if round_id > 1 and store.has_table("host_state", round_id - 1):
        prev_host_state = store.read_round(spark, "host_state", round_id - 1)
    # else: store predates host_state tables (or round 1) → no circuit history
    budgets = host_budgets(robots, cfg.round_duration_ms, max_per_host=cfg.max_per_host)
    if prev_host_state is None:
        return allowed, None, budgets
    tripped = prev_host_state.where(F.col("quarantined_until").isNotNull())
    open_hosts = tripped.where(
        F.col("quarantined_until") > F.lit(round_ts).cast("timestamp")
    ).select("host")
    half_open_hosts = tripped.where(
        F.col("quarantined_until") <= F.lit(round_ts).cast("timestamp")
    ).select("host")
    allowed = allowed.join(F.broadcast(open_hosts), "host", "left_anti")
    # full outer: a half-open host with no robots row must still get budget 1
    budgets = (
        budgets.join(half_open_hosts.withColumn("_ho", F.lit(True)), "host", "full_outer")
        .withColumn(
            "max_per_round",
            F.when(F.col("_ho"), F.lit(1)).otherwise(F.col("max_per_round")),
        )
        .drop("_ho")
    )
    return allowed, prev_host_state, budgets


def _schedule(
    spark: SparkSession,
    store: StateStore,
    round_id: int,
    cfg: CrawlConfig,
    allowed: DataFrame,
    budgets: DataFrame,
    max_doc_id: int | None,
) -> DataFrame:
    """Step 4, politeness schedule (salted two-level exact top-k per host) →
    ``scheduled``, which feeds the fetch, the incumbent probe and the
    tombstones — checkpointed so the window stages run once per round. The
    PageRank blend happens HERE, on the rows entering the rank: the rank
    stage owns its two designed exchanges anyway, so the scores join rides
    into them instead of degrading the pending plan. Unscheduled backlog
    rows keep their base priorities (never rewritten — commit volume stays
    O(churn)); only rows re-entering via the retry path carry a blended
    value forward. Rows cut by the per-template trap cap, or that lose the
    budget race, are never tombstoned: they stay live for later rounds."""
    if cfg.pagerank_weight > 0:
        allowed = _pagerank_priority(spark, store, round_id, cfg, allowed, max_doc_id)
    candidates = allowed
    if cfg.trap_max_per_template > 0:
        from web_crawling_prj_spark.operators.traps import cap_trapped_frontier

        candidates = cap_trapped_frontier(
            allowed,
            url_col="url_canon",
            priority_col="priority",
            max_per_template=cfg.trap_max_per_template,
            n_salts=cfg.n_salts,
        )
    return round_checkpoints.checkpoint(
        schedule_round(
            candidates,
            budgets,
            n_salts=cfg.n_salts,
            default_budget=cfg.default_budget,
            tiebreak=cfg.schedule_tiebreak,
        )
    )


def _fetch(
    scheduled: DataFrame,
    pages: DataFrame,
    round_id: int,
    round_ts: str,
    cfg: CrawlConfig,
    max_doc_id: int | None,
) -> DataFrame:
    """Step 5, fetch + extract (synthetic deterministic fetcher; same schema
    as real) and classify → ``fetch_log``. The fetch log feeds FOUR
    consumers (frontier adds, seen delta, metrics, its own commit) —
    checkpointed so the fetch+extract stage runs once, not once per committed
    table, and the commit writes plan from it alone."""
    fetch_log = synthetic_fetch(
        scheduled,
        pages,
        round_id,
        round_ts,
        failure_per_mille=cfg.failure_per_mille,
        roll_mode=cfg.fetch_roll_mode,
        redirect_per_mille=cfg.redirect_per_mille,
        max_doc_id=max_doc_id,
    )
    return round_checkpoints.checkpoint(classify_fetch_log(fetch_log))


def _retries(fetch_log: DataFrame) -> DataFrame:
    """Step 6: retryable fetch rows re-enter the frontier with their backoff;
    exhausted rows tombstone (they land in the seen delta)."""
    return (
        fetch_log.where(F.col("can_retry"))
        .select(
            F.col("url_canon").alias("url"),
            "url_canon",
            "url_hash",
            "host",
            "priority",
            "depth",
            F.col("fetched_ts").alias("discovered_ts"),
            F.lit(None).cast("long").alias("src_url_hash"),
            "attempt",
            "next_eligible_ts",
        )
        .select(*FRONTIER_COLS)
    )


def _redirect_terminals(fetch_log: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Step 7b, redirect resolution (reference: httpx follow_redirects inside
    services/request_client.py; here the redirect map is DATA): this round's
    3xx rows resolve — through each other, when several hops of a chain were
    fetched in the same round — to terminal targets, which enqueue like
    discovered links. Each hop's Location is cleaned + canonicalized first
    (same strip→canon path as seeds), so chains key consistently;
    ``terminated = false`` rows (cycles / over-budget) never enqueue — their
    source is already terminal in the fetch log (class 'redirect', retry
    budget 0 → seen). Delta-sized: only 3xx rows join."""
    from web_crawling_prj_spark.functions.urls import (
        canonicalize_urls_hybrid,
        strip_tracking_params,
    )
    from web_crawling_prj_spark.operators.redirects import resolve_redirects

    r3 = fetch_log.where(F.col("error_class") == "redirect").select(
        F.col("url_canon").alias("src"),
        strip_tracking_params(F.col("redirect_to")).alias("_loc"),
        "priority",
        "depth",
        F.col("fetched_ts").alias("discovered_ts"),
        F.col("url_hash").alias("src_url_hash"),
    )
    # checkpointed: the hop loop reads the edges once per hop, and the
    # terminals feed both the candidate keys and the winners
    r3 = round_checkpoints.checkpoint(canonicalize_urls_hybrid(r3, "_loc", "dst").drop("_loc"))
    resolved = resolve_redirects(
        r3.select("src", "dst"),
        max_hops=cfg.redirect_max_hops,
        checkpoint=round_checkpoints.checkpoint,
    )
    return round_checkpoints.checkpoint(
        resolved.where(F.col("terminated"))
        .join(r3.drop("dst"), "src")
        .select(
            F.col("final").alias("url"),
            F.col("final").alias("url_canon"),
            url_hash(F.col("final")).alias("url_hash"),
            host_of(F.col("final")).alias("host"),
            "priority",
            "depth",
            "discovered_ts",
            "src_url_hash",
            F.lit(0).alias("attempt"),
            F.lit(None).cast("timestamp").alias("next_eligible_ts"),
        )
        .select(*FRONTIER_COLS)
    )


def _discover(fetch_log: DataFrame, cfg: CrawlConfig, max_doc_id: int | None) -> DataFrame:
    """Step 7, outlink discovery feeding the next frontier, plus the redirect
    terminals (7b) and the focus blend (7c, WWW'99): each parent page's BM25
    topic relevance blends into its children's priority. The scorer input is
    THIS round's fetch log only (delta-sized); the rel table is
    per-round-small and broadcasts. Redirect terminals blend their 3xx
    source's relevance, which is 0 (no text) — off-topic-by-default, the
    soft-focus rule."""
    discovered = discover_outlinks(
        fetch_log, links_per_page=cfg.links_per_page, max_doc_id=max_doc_id
    ).withColumns({"attempt": F.lit(0), "next_eligible_ts": F.lit(None).cast("timestamp")})
    discovered = discovered.select(*FRONTIER_COLS)
    if cfg.redirect_per_mille > 0:
        discovered = discovered.unionByName(_redirect_terminals(fetch_log, cfg))
    if cfg.focus_weight > 0 and cfg.focus_terms:
        from web_crawling_prj_spark.operators.focus import (
            blend_child_priority,
            page_relevance,
        )

        rel = page_relevance(fetch_log, list(cfg.focus_terms))
        discovered = blend_child_priority(
            discovered, rel, weight=cfg.focus_weight
        ).select(*FRONTIER_COLS)
    return discovered


def _winners(
    cand: DataFrame,
    live_parts: list[DataFrame],
    scheduled: DataFrame,
    robots: DataFrame,
    round_ts: str,
    num_buckets: int,
) -> DataFrame:
    """Step 8, incumbents + winners: one row per key among the candidates
    (retries ∪ discovered) and the live rows they collide with — a winning
    incumbent re-adds its own row, a no-op on the view. Incumbents are
    probed per live BRANCH — every branch keeps
    HashPartitioning(url_hash, P) (live_frontier_parts contract), so the
    semi-joins move ONLY the repartitioned key set (its exchange is reused
    across branches), never the backlog. The probe result is ≤ |cand| rows
    per branch; the robots flag is re-derived on it (broadcast join), and
    incumbents are (eligible ∧ allowed ∧ ¬scheduled) ∪ ¬eligible — an
    eligible-but-disallowed row is tombstoned this round, never an
    incumbent. Dedup preference: in-flight retry state (attempt, backoff)
    survives a fresh rediscovery of the same URL — otherwise attempt
    counters reset and the per-class retry budget / backoff gate are
    silently bypassed."""
    ck = cand.select("url_hash").distinct().repartition(num_buckets, "url_hash")
    probe = None
    for p in live_parts:
        hit = p.join(ck, "url_hash", "left_semi")
        probe = hit if probe is None else probe.unionByName(hit)
    if probe is not None:
        elig = F.col("next_eligible_ts").isNull() | (
            F.col("next_eligible_ts") <= F.lit(round_ts).cast("timestamp")
        )
        inc = (
            gate_frontier_flagged(probe, robots)
            .where(F.col("robots_allowed") | ~elig)
            .drop("robots_allowed")
            .join(
                scheduled.select("url_hash").repartition(num_buckets, "url_hash"),
                "url_hash",
                "left_anti",
            )
            .select(*FRONTIER_COLS)
        )
        cand = cand.unionByName(inc)
    prefer = [
        -F.coalesce(F.col("attempt"), F.lit(0)),
        -F.coalesce(F.col("priority"), F.lit(0.0)),
    ]
    cand = cand.repartition(num_buckets, "url_hash")
    return dedup_within_batch(cand, key="url_hash", prefer=prefer)


def _seen_delta(fetch_log: DataFrame, round_id: int, num_buckets: int) -> DataFrame:
    """Step 9, seen delta: everything scheduled this round that will not be
    retried (fetched or permanently failed — failures re-enter via the retry
    path, not by staying "unseen")."""
    return (
        fetch_log.where(~F.col("can_retry"))
        .select(
            "url_hash",
            bucket_of("url_hash", num_buckets).alias("bucket"),
            F.lit(round_id).alias("first_seen_round"),
            F.col("fetched_ts").alias("first_seen_ts"),
        )
        .repartition(num_buckets, "url_hash")  # bucket layout, 1 file/bucket
    )


def _round_aggregates(
    fetch_log: DataFrame, prev_host_state: DataFrame | None, round_id: int, num_buckets: int
) -> dict[str, DataFrame]:
    """Step 10, the round's aggregate tables: per-partition lineage counters
    (north rule C20) by seen bucket → ``metrics``; the circuit fold →
    ``host_state``; and the run report (C20/C4 completion), the alerting row
    the reference renders into its Teams card, committed per round next to
    the metrics it summarizes → ``run_report``."""
    from web_crawling_prj_spark.plans.reports import run_summary

    metrics = (
        fetch_log.groupBy(bucket_of("url_hash", num_buckets).alias("bucket"))
        .agg(
            F.count("*").alias("scheduled_cnt"),
            F.sum(F.when(F.col("error_class") == "ok", 1).otherwise(0)).alias("fetched_ok_cnt"),
            F.sum(F.when(F.col("error_class") != "ok", 1).otherwise(0)).alias("failed_cnt"),
            F.sum(F.when(F.col("can_retry"), 1).otherwise(0)).alias("retried_cnt"),
        )
        .withColumn("round_id", F.lit(round_id))
    )
    return {
        "metrics": metrics,
        "host_state": update_circuit_state(prev_host_state, fetch_log),
        "run_report": run_summary(metrics),
    }


def _frontier_events(
    spark: SparkSession,
    store: StateStore,
    round_id: int,
    num_buckets: int,
    winners: DataFrame,
    seen_delta: DataFrame,
    del_keys: DataFrame,
) -> DataFrame:
    """The round's ``frontier_log`` events, O(churn) rows: adds = the winners
    as full rows (``url`` stored once, :func:`_encode_url`), seen-filtered
    at write time (this round's seen_delta included) so the live view stays
    seen-clean and reads never join the seen-set; dels = key-only
    tombstones, typed by FRONTIER_SCHEMA, for ``del_keys`` (scheduled keys —
    fetched→seen, or replaced by their retry row — and disallowed keys).
    The winners carry the bucket layout, so the seen tier joins co-locate;
    the un-folded seen deltas are one plain scan of ≤ compact_every rounds
    of churn, broadcast or shuffled on their own side only."""
    seen_bases, seen_deltas = store.read_parts(spark, "seen_delta", up_to=round_id - 1)
    adds = anti_join_seen_layered(winners, [*seen_bases, *seen_deltas, seen_delta])
    del_rows = del_keys.select(
        *[
            F.lit(None).cast(f.dataType).alias(f.name) if f.name != "url_hash" else F.col(f.name)
            for f in FRONTIER_SCHEMA.fields
        ],
        F.lit(round_id).alias("evt_round"),
        F.lit(True).alias("is_del"),
    )
    add_rows = _encode_url(adds).select(
        *FRONTIER_COLS, F.lit(round_id).alias("evt_round"), F.lit(False).alias("is_del")
    )
    return add_rows.unionByName(del_rows).repartition(num_buckets, "url_hash")


def _post_commit_report(
    spark: SparkSession, store: StateStore, round_id: int, cfg: CrawlConfig
) -> dict:
    """After the commit: read the committed metrics and run report back ONCE
    (two small driver jobs), render the run artifact (reference Teams card
    analog) from them, apply the failure threshold (reference C4/C5) and
    return the round's summary. The abort raises AFTER committing so a
    resumed run starts from consistent state."""
    from web_crawling_prj_spark.plans.reports import render_run_artifact

    metrics_rows = store.read_round(spark, "metrics", round_id).collect()
    report = store.read_round(spark, "run_report", round_id).first()
    render_run_artifact(spark, store, round_id, rep_row=report, metrics_rows=metrics_rows)
    summary = {
        r["bucket"]: (r["scheduled_cnt"], r["fetched_ok_cnt"], r["failed_cnt"])
        for r in metrics_rows
    }
    if cfg.extra.get("abort_on_failed_run"):
        if report and report["run_failed"]:
            raise RuntimeError(
                f"round {round_id} failed: {report['failed']}/{report['scheduled']} fetches failed"
            )
    totals = [sum(v[i] for v in summary.values()) for i in range(3)]
    return {
        "round_id": round_id,
        "scheduled": totals[0],
        "ok": totals[1],
        "failed": totals[2],
        "per_bucket": summary,
    }


def _run_round(
    spark: SparkSession,
    store: StateStore,
    pages: DataFrame,
    robots: DataFrame,
    round_id: int,
    cfg: CrawlConfig,
) -> dict:
    """One round as the ordered list of its stages (module docstring)."""
    round_ts = cfg.round_ts(round_id)
    max_doc_id = cfg.extra.get("max_doc_id")
    live_parts: list[DataFrame] = []
    pending = pending_frontier(
        spark, store, round_id, cfg, checkpoint=round_checkpoints.checkpoint, parts_out=live_parts
    )
    allowed, disallowed_keys = _robots_gate(pending, robots)
    allowed, prev_host_state, budgets = _circuit_breaker(
        spark, store, round_id, round_ts, allowed, robots, cfg
    )
    scheduled = _schedule(spark, store, round_id, cfg, allowed, budgets, max_doc_id)
    fetch_log = _fetch(scheduled, pages, round_id, round_ts, cfg, max_doc_id)
    cand = _retries(fetch_log).unionByName(_discover(fetch_log, cfg, max_doc_id))
    winners = _winners(cand, live_parts, scheduled, robots, round_ts, cfg.num_buckets)
    seen_delta = _seen_delta(fetch_log, round_id, cfg.num_buckets)
    tables = {
        "seen_delta": seen_delta,
        "fetch_log": fetch_log.drop("max_attempts"),
        **_round_aggregates(fetch_log, prev_host_state, round_id, cfg.num_buckets),
    }
    del_keys = scheduled.select("url_hash").unionByName(disallowed_keys)
    tables["frontier_log"] = _frontier_events(
        spark, store, round_id, cfg.num_buckets, winners, seen_delta, del_keys
    )
    store.commit_round(round_id, tables, extra_meta={"round_ts": round_ts})
    return _post_commit_report(spark, store, round_id, cfg)


def run_crawl(
    spark: SparkSession,
    store: StateStore,
    pages: DataFrame,
    robots: DataFrame,
    seeds: DataFrame,
    rounds: int,
    cfg: CrawlConfig | None = None,
    robots_source=None,
) -> list[dict]:
    """Drive `rounds` crawl rounds, resuming from the last committed round.

    Reference C17: a killed run re-derives pending work from committed state —
    here that is literally `last_committed_round() + 1`.

    ``robots_source``: optional ``(spark, round_id) -> DataFrame[host,
    robots_txt]`` — the between-rounds credential/config refresh hook
    (reference C13, services/credential_refresh_service.py:38-169): each round
    re-fetches the raw per-host rules and re-parses them, so a host that turns
    hostile mid-crawl stops being scheduled from the NEXT round on. When None,
    the pre-parsed ``robots`` table is used unchanged all run.
    """
    from web_crawling_prj_spark.operators.robots import parse_robots_table
    from web_crawling_prj_spark.plans.statestore import guard_union_partitioning

    # correctness under ANY caller-built session (the store's read paths guard
    # too; this covers plans built before the first store read)
    guard_union_partitioning(spark)
    cfg = cfg or CrawlConfig()
    last = store.last_committed_round()
    if last is None:
        init_crawl(spark, store, seeds, cfg)
        last = 0
    if cfg.warc_dir:
        # resume catch-up: rebuild any archive a kill orphaned (derived
        # artifact — pure function of committed state, always rebuildable)
        from web_crawling_prj_spark.sources.warc import archive_missing_rounds

        archive_missing_rounds(spark, store, pages, cfg.warc_dir, cfg.num_buckets)
    stats = []
    for r in range(last + 1, rounds + 1):
        if robots_source is not None:
            robots = parse_robots_table(robots_source(spark, r))
        stats.append(run_round(spark, store, pages, robots, r, cfg))
        if cfg.warc_dir:
            from web_crawling_prj_spark.sources.warc import archive_round

            archive_round(spark, store, pages, r, cfg.warc_dir, cfg.num_buckets)
        if cfg.compact_every and r % cfg.compact_every == 0:
            store.compact(spark, "seen_delta", up_to=r, max_tiers=cfg.fold_max_tiers)
            # TIERED event-log fold: a minor fold resolves only the rounds
            # since the newest tier — O(window churn), keeping tombstones
            # that target older tiers — so the only O(live) job left anywhere
            # is the major fold every fold_max_tiers·compact_every rounds
            # (amortized O(live/(T·K)) per round).
            store.compact(
                spark,
                "frontier_log",
                up_to=r,
                max_tiers=cfg.fold_max_tiers,
                resolver=resolve_frontier_log,
            )
            if cfg.vacuum_after_fold:
                store.vacuum_compacted("seen_delta", spark)
                store.vacuum_compacted("frontier_log", spark)
    return stats


def resolve_frontier_log(df: DataFrame, terminal: bool = True) -> DataFrame:
    """Fold resolver for the frontier event log: the SAME latest-event
    resolution as the live read path (:func:`_resolve_events`), in the log's
    own schema.

    ``terminal`` (statestore.compact's flag): True when the fold output has
    no tier beneath it (major fold / first tier) — tombstoned keys can then
    be dropped outright. A non-terminal MINOR fold resolves only its own
    round window, so a tombstone may target a key living in an OLDER tier:
    those rows are KEPT (the tier's keys shadow older tiers at read; the
    final ``~is_del`` filter drops them from the live view). This is what
    bounds fold cost by the churn window instead of the 10^10-row backlog."""
    out = _resolve_events(df)
    if terminal:
        out = out.where(~F.col("is_del"))
    return out.select(*FRONTIER_LOG_COLS)
