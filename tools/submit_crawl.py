"""spark-submit entrypoint for the crawl pipeline (north-rule run mode).

Package + submit (local example; on a cluster set --master/--deploy-mode):

    cd /root/repo && python tools/make_pyfiles.py   # → dist/wcp_spark.zip
    spark-submit --master 'local[32]' \
        --py-files dist/wcp_spark.zip \
        --conf spark.sql.shuffle.partitions=32 \
        tools/submit_crawl.py --sf-dir /root/testdata/sf0.001 --rounds 3 \
        --state-dir /tmp/crawl_state

Resumable: re-running with the same --state-dir continues after the last
committed round (kill -9 safe — see plans.statestore).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--state-dir", required=True)
    ap.add_argument("--num-buckets", type=int, default=16)
    ap.add_argument("--n-salts", type=int, default=16)
    ap.add_argument("--max-per-host", type=int, default=40)
    ap.add_argument(
        "--warc-dir",
        default=None,
        help="export each round's ok fetches as member-gzipped WARC archives here",
    )
    args = ap.parse_args()

    # imports AFTER arg parsing so --help works without the zip on sys.path
    from pyspark.sql import functions as F

    from web_crawling_prj_spark.plans.crawl_round import CrawlConfig, crawl_store, run_crawl
    from web_crawling_prj_spark.session import get_spark
    from web_crawling_prj_spark.sources.pages_gen import pages_df, robots_df, seeds_df

    # get_spark applies the engine's SQL conf (AQE, Arrow, UTC, bucketed-scan
    # ordering) and NEVER overrides a spark-submit-provided cluster master
    spark = get_spark("wcp-crawl")

    pages = pages_df(spark, args.sf_dir).persist()
    cfg = CrawlConfig(
        num_buckets=args.num_buckets,
        n_salts=args.n_salts,
        max_per_host=args.max_per_host,
        default_budget=args.max_per_host,
        warc_dir=args.warc_dir,
    )
    cfg.extra["max_doc_id"] = pages.agg(F.max("doc_id")).first()[0] + 1

    store = crawl_store(args.state_dir, cfg)
    t0 = time.time()
    stats = run_crawl(spark, store, pages, robots_df(spark), seeds_df(spark, args.sf_dir), rounds=args.rounds, cfg=cfg)
    for s in stats:
        print(json.dumps({k: s[k] for k in ("round_id", "scheduled", "ok", "failed")}))
    print(json.dumps({"rounds_run": len(stats), "wall_s": round(time.time() - t0, 2), "first_round_this_run": stats[0]["round_id"] if stats else None}))
    spark.stop()


if __name__ == "__main__":
    main()
