"""Politeness-aware per-host scheduling — salted window ranking (SURVEY.md W4/C1-C6).

Reference semantics being re-expressed declaratively:
- rate limit: sleep(1/rps) before each request (services/request_client.py:222-223,
  default 2 rps :67) → per-host budget = round_duration / crawl_delay, and a
  per-row ``fetch_offset_ms`` spacing fetches inside the round;
- concurrency cap (semaphore(10), :261-263) → the budget cap + executor
  parallelism;
- proxy rotation every 5 requests over a 30-slot pool (:269-275) →
  deterministic ``proxy_slot`` column;
- per-source serialization (Semaphore(1), criteo_service.py:140) → the
  degenerate budget=1 case.

Skew is the scale hazard: one hot host can own 25%+ of the frontier, so a naive
``Window.partitionBy(host)`` puts 2.5B rows in one task at 10^10 scale. The
two-level salted rank bounds that: level 1 ranks within (host, salt) — at most
1/n_salts of the hot host per task — and keeps only `budget` rows per salt;
level 2 ranks exactly within host over ≤ n_salts × budget survivors. The global
top-`budget` per host is provably a subset of the union of per-salt top-`budget`
sets, so the result is EXACTLY the unsalted ranking at a fraction of the cost.

Ordering is a pure function of data — (priority DESC, url_hash ASC) — never of
partition arrival, so local[8] and local[32] schedule identical batches
(determinism requirement, SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_CRAWL_DELAY_MS = 500  # reference: 2 rps (services/request_client.py:67)
PROXY_POOL = 30  # services/request_client.py:74
PROXY_SWITCH_EVERY = 5  # services/request_client.py:269-275


def host_budgets(robots: DataFrame, round_duration_ms: int, max_per_host: int | None = None) -> DataFrame:
    """Per-host rows-per-round budget from crawl delay (politeness arithmetic)."""
    delay = F.coalesce(F.col("crawl_delay_ms"), F.lit(DEFAULT_CRAWL_DELAY_MS))
    budget = F.when(delay <= 0, F.lit(round_duration_ms)).otherwise(
        F.floor(F.lit(round_duration_ms) / delay)
    )
    if max_per_host is not None:
        budget = F.least(budget, F.lit(max_per_host))
    return robots.select(
        "host",
        F.greatest(budget, F.lit(1)).cast("int").alias("max_per_round"),
        delay.alias("crawl_delay_ms"),
    )


def reputation_budgets(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    base_budget: int = 40,
    cap: int = 400,
) -> DataFrame:
    """Spam-resistant crawl budgets from in-link DIVERSITY (IRLbot, Lee et
    al. WWW'08: budget a site by how many DISTINCT other sites link to it —
    volume is cheap for a spam farm to inflate, diversity is expensive).

    budget = min(cap, base · (floor(log2(1 + in_hosts)) + 1)), with the log2
    computed as the bin-string length of (1 + in_hosts) — pure integer math,
    so the whole policy is DuckDB-oracle-exact. Self-loops never count.
    One countDistinct groupBy (two-phase partial agg); the result is one row
    per host — broadcastable into schedule_round like host_budgets."""
    s, d = F.col(src), F.col(dst)
    rep = (
        edges.where(s != d)
        .groupBy(d.alias("node"))
        .agg(F.countDistinct(s).alias("in_hosts"))
    )
    budget = F.least(
        F.lit(cap), F.lit(base_budget) * F.length(F.bin(F.col("in_hosts") + 1))
    )
    return rep.select(
        "node",
        F.col("in_hosts").cast("long").alias("in_hosts"),
        budget.cast("int").alias("max_per_round"),
    )


def schedule_round(
    pending: DataFrame,
    budgets: DataFrame,
    n_salts: int = 16,
    default_budget: int = 60,
    persisted: list | None = None,
    tiebreak: str = "url_hash",
) -> DataFrame:
    """Pick ≤ budget URLs per host: two-level salted exact top-k.

    Input: pending frontier with (host, priority, url_hash, ...).
    Output: scheduled rows + host_rank / fetch_offset_ms / proxy_slot columns.
    Budgets are broadcast (one row per host — always small relative to frontier).

    ``persisted`` registers nothing any more (the rank keeps no internal
    cache); it is accepted only because perfbench's isolated schedule probe
    still passes it, and goes when those probes are rewritten.
    """
    # ``tiebreak``: the ascending order column breaking priority ties inside a
    # host (default url_hash — cheap 8-byte sort key). A crawl that must be
    # replayable by an engine without xxhash64 (the DuckDB replay oracle)
    # passes "url_canon": same exact-top-k semantics, portable total order.
    p = pending.join(
        F.broadcast(budgets.select("host", "max_per_round", "crawl_delay_ms")),
        "host",
        "left",
    ).withColumns(
        {
            "max_per_round": F.coalesce("max_per_round", F.lit(default_budget)),
            "crawl_delay_ms": F.coalesce("crawl_delay_ms", F.lit(DEFAULT_CRAWL_DELAY_MS)),
        }
    )

    order = [F.desc("priority"), F.asc(tiebreak)]
    salt = F.pmod(F.col("url_hash"), F.lit(n_salts))
    w1 = Window.partitionBy("host", salt).orderBy(*order)
    pre = (
        p.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= F.col("max_per_round"))
        .drop("_r1")
    )
    w2 = Window.partitionBy("host").orderBy(*order)
    sched = pre.withColumn("host_rank", F.row_number().over(w2)).filter(
        F.col("host_rank") <= F.col("max_per_round")
    )

    # politeness spacing + proxy rotation, all deterministic column math
    return sched.withColumns(
        {
            "fetch_offset_ms": ((F.col("host_rank") - 1) * F.col("crawl_delay_ms")).cast("long"),
            "proxy_slot": F.pmod(
                F.floor((F.col("host_rank") - 1) / PROXY_SWITCH_EVERY)
                + F.pmod(F.xxhash64("host"), F.lit(PROXY_POOL)),
                F.lit(PROXY_POOL),
            ).cast("int"),
        }
    ).drop("max_per_round", "crawl_delay_ms")


def batch_ids(df: DataFrame, batch_size: int = 50) -> DataFrame:
    """Reference ``chunk_list`` (dags/common/base_source_dag.py:55-57): assign a
    deterministic batch id per host from the politeness rank."""
    return df.withColumn("batch_id", F.floor((F.col("host_rank") - 1) / batch_size).cast("int"))
