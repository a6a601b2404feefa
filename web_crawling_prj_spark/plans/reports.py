"""Per-round run report: the summary table and its human-readable artifact.

The reference (dags/common/base_init_reports_dag.py) fails a report run when
failed ≥ ⌈total/2⌉ (:187-192) and renders run totals into a Teams card
(services/notification_handler.py). Here both are computed from a crawl
round's committed metrics: :func:`run_summary` builds the ``run_report``
table the round commits, and :func:`render_run_artifact` writes it out next
to the round manifest as markdown and JSON.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run_summary(metrics: DataFrame, fail_threshold_ratio: float = 0.5) -> DataFrame:
    """Per-round run report from the committed metrics table — the alerting
    aggregation the reference renders into its Teams card
    (services/error_handler.py:282-306 success-rate math +
    dags/common/base_init_reports_dag.py:187-192 half-failure abort flag).

    Input: per-(round, bucket) counters (scheduled_cnt, fetched_ok_cnt,
    failed_cnt, retried_cnt). Output: one row per round with totals,
    success_rate_pct = (ops - errors) / ops * 100, and run_failed =
    failed ≥ ⌈scheduled · ratio⌉ (ceil, not round — banker's rounding would
    flag 2 of 5). A scheduled == 0 round (possible over arbitrary metrics
    tables, never emitted by crawl_round's groupBy) is an idle round, not a
    failed one: success_rate_pct = 100, run_failed = false."""
    agg = metrics.groupBy("round_id").agg(
        F.sum("scheduled_cnt").alias("scheduled"),
        F.sum("fetched_ok_cnt").alias("ok"),
        F.sum("failed_cnt").alias("failed"),
        F.sum("retried_cnt").alias("retried"),
    )
    return agg.select(
        "round_id",
        "scheduled",
        "ok",
        "failed",
        "retried",
        F.when(
            F.col("scheduled") > 0,
            F.round((F.col("scheduled") - F.col("failed")) * 100.0 / F.col("scheduled"), 4),
        )
        .otherwise(F.lit(100.0))
        .alias("success_rate_pct"),
        (
            (F.col("scheduled") > 0)
            & (F.col("failed") >= F.ceil(F.col("scheduled") * fail_threshold_ratio))
        ).alias("run_failed"),
    )


def render_run_artifact(spark, store, round_id: int, rep_row=None, metrics_rows=None) -> str:
    """Render the per-round run report as human-readable artifacts next to the
    manifest: ``_manifests/NNNNNN.report.md`` + ``.report.json``.

    The reference renders the same fields into a Teams adaptive card
    (services/notification_handler.py:12-116: run title, totals, success rate,
    failure flag, per-section counts); here the artifact is a file a human (or
    the next tool) reads straight out of the state store. Every number comes
    from the COMMITTED run_report / metrics tables — nothing is recomputed, so
    the artifact can never disagree with the store.

    Returns the markdown path. Written AFTER the commit point (like the bloom
    sidecar): a kill in between loses only the rendering, never state; the
    next render call reproduces it from the same committed tables.

    ``rep_row`` / ``metrics_rows``: callers that already collected the
    committed rows (run_round does, for its own summary) pass them in so the
    render adds ZERO extra Spark jobs; standalone calls fetch them here.
    """
    import json as _json
    import os

    if rep_row is None:
        rep_row = store.read_round(spark, "run_report", round_id).first()
    # an idle round (frontier drained / everything deferred) schedules nothing:
    # the metrics groupBy emits zero rows, so the committed run_report is empty
    rep = (
        rep_row.asDict()
        if rep_row is not None
        else {
            "round_id": round_id,
            "scheduled": 0,
            "ok": 0,
            "failed": 0,
            "retried": 0,
            "success_rate_pct": 100.0,
            "run_failed": False,
        }
    )
    if metrics_rows is None:
        metrics_rows = store.read_round(spark, "metrics", round_id).collect()
    per_bucket = [r.asDict() for r in sorted(metrics_rows, key=lambda r: r["bucket"])]
    meta = store.manifest(round_id)
    payload = {**rep, "round_ts": meta.get("round_ts"), "per_bucket": per_bucket}
    base = os.path.join(store.root, "_manifests", f"{round_id:06d}.report")
    with open(base + ".json", "w") as f:
        _json.dump(payload, f, indent=2, default=str)

    status = "❌ RUN FAILED" if rep["run_failed"] else "✅ ok"
    lines = [
        f"# Crawl round {round_id} — {status}",
        "",
        f"- round_ts: {meta.get('round_ts')}",
        f"- scheduled: {rep['scheduled']}",
        f"- ok: {rep['ok']}",
        f"- failed: {rep['failed']}",
        f"- retried: {rep['retried']}",
        f"- success_rate_pct: {rep['success_rate_pct']}",
        "",
        "| bucket | scheduled | ok | failed | retried |",
        "|---|---|---|---|---|",
    ]
    for b in per_bucket:
        lines.append(
            f"| {b['bucket']} | {b['scheduled_cnt']} | {b['fetched_ok_cnt']} "
            f"| {b['failed_cnt']} | {b['retried_cnt']} |"
        )
    with open(base + ".md", "w") as f:
        f.write("\n".join(lines) + "\n")
    return base + ".md"
