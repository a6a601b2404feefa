"""Fetch stage: scheduled batch → fetch results (+extraction, +outlink discovery).

Production shape (reference ``BaseSourceClient._make_single_request``,
services/request_client.py:126-203): the fetch is I/O inside the data plane,
a ``mapInPandas`` over the scheduled batch with one HTTP client per
partition, honoring ``fetch_offset_ms`` spacing and ``proxy_slot``. The one
fetcher here is SYNTHETIC and deterministic: a join of the scheduled batch
against the `pages` store (the "web"), with failures injected by seeded hash
in reference-like class proportions (error taxonomy:
services/error_handler.py:73-99). It emits the ``fetch_log`` schema every
downstream operator (retry, seen-set, metrics, SCD2 load) reads; a real HTTP
fetcher would have to emit the same schema.

Extraction runs inside the same stage via the Arrow UDF
(functions.text.extract_text_udf) — byte-identical to the stored text
(north-rule invariant). Outlink discovery derives new frontier rows from
fetched pages (deterministic synthetic link graph), feeding the next round.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

from web_crawling_prj_spark.functions.hashing import url_hash
from web_crawling_prj_spark.functions.text import extract_text_udf
from web_crawling_prj_spark.functions.urls import host_of

# ~3% failures, weighted toward transient classes (network/rate-limit/timeout).
_FAILURE_LADDER = [
    (100, "network_error", 503, "network"),
    (150, "rate_limit", 429, None),
    (180, "timeout", None, "timeout"),
    (200, "proxy_error", None, "proxy"),
    (210, "auth_error", 401, None),
    (220, "token_expired", 403, None),
    (250, "api_error", 400, None),
    (280, "parsing_error", 200, "parsing"),
]


def synthetic_fetch(
    scheduled: DataFrame,
    pages: DataFrame,
    round_id: int,
    round_ts,
    failure_per_mille: int = 28,
    roll_mode: str = "xxhash",
    redirect_per_mille: int = 0,
    max_doc_id: int | None = None,
) -> DataFrame:
    """Deterministic fetch: look up each scheduled URL in the page store.

    - URL not in store → http 404 (api_error, no retry — budget 0);
    - ``redirect_per_mille`` > 0: a per-PAGE (round-independent, so a
      redirecting page redirects consistently — chains are stable) draw makes
      the page answer 301 + a deterministic ``redirect_to`` target at the
      target's true host; the discovery step resolves chains to terminals
      (operators.redirects) and enqueues those;
    - seeded roll < threshold → injected failure by class ladder;
    - otherwise ok + byte-identical extracted text.

    The join is on ``url_canon``: pages-side key is canonical by construction
    (the store is keyed the same way the seen-set is). At scale `pages` is the
    big side and the scheduled batch the small one, but a left outer join
    can only build its hash table on the page store. So the page store is
    first cut to the batch: a left-semi join streams the pages scan against
    the broadcast batch keys, and only those hits (at most batch-sized) meet
    the batch in the left join. The page store is never shuffled or
    broadcast (tests/test_plan_shapes.py).
    """
    page_payload = pages.select(
        F.col("url").alias("url_canon"),
        "warc_ts",
        "html",
        F.col("text").alias("_expected_text"),
        "lang",
        F.col("doc_id").alias("page_doc_id"),
    )
    keys = F.broadcast(scheduled.select("url_canon"))
    hits = page_payload.join(keys, "url_canon", "left_semi")
    j = scheduled.join(hits, "url_canon", "left")

    # Failure draw in [0, 10000). Two deterministic modes:
    #   "xxhash" (default): xxhash64(round_id, url_canon) — best mixing.
    #   "doc": pure integer arithmetic over (page_doc_id, round_id) — same
    #   Knuth-mix family as the page synthesizer, chosen so an ANSI-SQL
    #   engine (the DuckDB replay oracle behind crawl_rounds_replay) can
    #   reproduce the draw exactly; missing pages are 404s before the roll
    #   is consulted, so the NULL doc_id never reaches a failure band.
    if roll_mode == "doc":
        from web_crawling_prj_spark.sources.pages_gen import _mix

        roll = F.pmod(_mix(F.col("page_doc_id") * 131 + round_id, 11), F.lit(10_000))
    else:
        roll = F.pmod(F.xxhash64(F.lit(round_id), F.col("url_canon")), F.lit(10_000))
    # scale ladder thresholds to the requested overall failure rate
    scale = failure_per_mille * 10 / 280.0
    status = F.lit("ok")
    http = F.lit(200)
    kind = F.lit(None).cast("string")
    for cum, cls, code, k in reversed(_FAILURE_LADDER):
        status = F.when(roll < int(cum * scale), F.lit(cls)).otherwise(status)
        http = F.when(roll < int(cum * scale), F.lit(code).cast("int")).otherwise(http)
        kind = F.when(roll < int(cum * scale), F.lit(k).cast("string")).otherwise(kind)
    # redirect injection: a page PROPERTY (arithmetic over page_doc_id only —
    # no round term), so the same page 301s every time it is fetched and
    # chains A→B→C are stable across rounds. Target = a deterministic doc at
    # its TRUE host, so resolution lands on a real page (or a further hop).
    redirect_to = F.lit(None).cast("string")
    if redirect_per_mille > 0 and not max_doc_id:
        # ADVICE r6: this combination silently produced ZERO 3xx rows while
        # the plan's redirect-resolution branch still ran — make it loud
        logger.warning(
            "synthetic_fetch: redirect_per_mille=%d but max_doc_id is %r — "
            "redirect injection DISABLED (pass cfg.extra['max_doc_id'])",
            redirect_per_mille,
            max_doc_id,
        )
    if redirect_per_mille > 0 and max_doc_id:
        from web_crawling_prj_spark.sources.pages_gen import _mix, host_for_doc

        is_redir = _mix(F.col("page_doc_id"), 16) % 1000 < redirect_per_mille
        tgt = _mix(F.col("page_doc_id"), 17) % max_doc_id
        tgt_url = F.format_string(
            "https://%s/doc/%d?id=%d&ref=seed", host_for_doc(tgt), tgt, tgt
        )
        status = F.when(is_redir, F.lit("redirect")).otherwise(status)
        http = F.when(is_redir, F.lit(301)).otherwise(http)
        kind = F.when(is_redir, F.lit("redirect")).otherwise(kind)
        redirect_to = F.when(is_redir, tgt_url)

    missing = F.col("page_doc_id").isNull()
    status = F.when(missing, F.lit("api_error")).otherwise(status)
    http = F.when(missing, F.lit(404)).otherwise(http)
    kind = F.when(missing, F.lit(None).cast("string")).otherwise(kind)
    redirect_to = F.when(missing, F.lit(None).cast("string")).otherwise(redirect_to)

    fetched = j.withColumns(
        {
            "round_id": F.lit(round_id),
            "error_class_injected": status,
            "http_code": http,
            "error_kind": kind,
            "fetched_ts": F.lit(round_ts).cast("timestamp")
            + F.make_interval(secs=F.col("fetch_offset_ms") / 1000.0),
            "attempt": F.coalesce(F.col("attempt"), F.lit(0)) + 1,
            "redirect_to": redirect_to,
        }
    )
    ok = F.col("error_class_injected") == "ok"
    fetched = fetched.withColumn(
        "extracted_text", F.when(ok, extract_text_udf("html"))
    )
    return fetched.select(
        "round_id",
        "url_hash",
        "url_canon",
        "host",
        "priority",
        "depth",
        "attempt",
        "http_code",
        "error_kind",
        "fetched_ts",
        "proxy_slot",
        "page_doc_id",
        "extracted_text",
        "lang",
        "redirect_to",
    )


def discover_outlinks(
    fetch_log: DataFrame,
    links_per_page: int = 3,
    max_doc_id: int | None = None,
    dead_link_pct: int = 5,
) -> DataFrame:
    """Synthetic link graph: page doc_id → `links_per_page` target doc_ids.

    Deterministic (pure function of doc_id). Targets live at their TRUE host
    (pages_gen.host_for_doc) so links resolve like a real web; `dead_link_pct`%
    point at a nonexistent host (404 path). Emits frontier-shaped rows with
    lineage (src_url_hash). Expressed with sequence+explode — no Python,
    scales linearly.
    """
    from web_crawling_prj_spark.sources.pages_gen import host_for_doc

    ok = fetch_log.where(F.col("extracted_text").isNotNull())
    if links_per_page <= 0:
        # guard the degenerate config: Spark's sequence(1, 0) counts DOWN
        # ([1, 0] — two elements), it does not produce an empty array
        ok = ok.limit(0)
    links = ok.select(
        F.col("url_hash").alias("src_url_hash"),
        (F.col("depth") + 1).alias("depth"),
        F.col("fetched_ts").alias("discovered_ts"),
        F.col("page_doc_id").alias("src_doc"),
        F.explode(F.sequence(F.lit(1), F.lit(links_per_page))).alias("k"),
    )
    tgt_raw = F.pmod(
        F.pmod(F.col("src_doc"), F.lit(1_000_003)) * F.lit(31) + F.col("k") * F.lit(2654435761),
        F.lit(1_000_003),
    )
    tgt = F.pmod(tgt_raw, F.lit(max_doc_id)) if max_doc_id else tgt_raw
    dead = F.pmod(F.col("src_doc") * F.lit(7) + F.col("k"), F.lit(100)) < dead_link_pct
    tgt_host = F.when(dead, F.lit("host-9999.example")).otherwise(host_for_doc(tgt))
    url = F.format_string("https://%s/doc/%d?id=%d&ref=seed", tgt_host, tgt, tgt)
    out = links.select(
        url.alias("url"),
        url.alias("url_canon"),  # built canonical by construction
        (F.lit(0.5) + F.pmod(tgt, F.lit(500)) / 1000.0).alias("priority"),
        "depth",
        "discovered_ts",
        "src_url_hash",
    )
    return out.withColumns(
        {"url_hash": url_hash(F.col("url_canon")), "host": host_of(F.col("url_canon"))}
    )
