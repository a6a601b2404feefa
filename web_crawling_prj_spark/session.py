"""SparkSession factory with scale-appropriate defaults.

Local mode is for tests/bench only; the conf is written so the same code runs
unchanged on a multi-executor cluster via ``spark-submit --py-files``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "web_crawling_prj_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores=None → ``local[*]`` locally; on a real cluster the master comes from
    spark-submit and this builder only sets SQL conf.

    Defaults chosen for the crawl workload:
    - AQE on (skew-join splitting + coalescing post-shuffle partitions): per-host
      skew in the frontier is the dominant hazard at 10^10 scale.
    - Arrow on: every Python touchpoint is a pandas UDF / mapInPandas.
    - UTC session timezone: parity with the DuckDB oracle (UTC-naive timestamps).
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = os.environ.get("SPARK_MASTER", f"local[{cores}]" if cores else "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = cores if cores else (os.cpu_count() or 8)

    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # hash joins over sort-merge for the hash-keyed crawl joins; AQE
        # skew-splitting keeps partitions bounded so SHJ stays safe
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # The crawl state store writes its fold tiers as bucketed+sorted
        # tables with EXACTLY one file per bucket (statestore._write_bucketed
        # callers repartition on the bucket key), so exposing the on-disk
        # per-bucket order is safe and turns the tier anti-joins into a pure
        # streaming merge: zero exchanges AND zero sorts. Spark only claims
        # the ordering when a bucket has ≤1 file — multi-file buckets fall
        # back to an in-memory sort, never to wrong results.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # WRONG-RESULTS GUARD (upstream Spark 4.1.2): with
        # unionOutputPartitioning=true (the default), a Union of two
        # co-bucketed table scans claims its children's HashPartitioning even
        # though Union CONCATENATES partitions (key k lands in partition i
        # AND n+i) — a downstream distinct/groupBy then elides its exchange
        # (including explicit repartition()!) and returns duplicates.
        # Minimal repro on a stock session: two bucketBy(8,"k") tables,
        # ranges 0..999 and 500..1499 → union.distinct() = 2000, not 1500.
        # The store's per-round dirs are plain parquet, but the crawl's live
        # view and its incumbent probe union branches built on bucketed fold
        # tier scans, so this MUST stay off.
        .config("spark.sql.unionOutputPartitioning", "false")
        # Python-boundary cost OFF the driver hot path (guide §4): PySpark 4's
        # per-DataFrame-op call-site capture costs 3 py4j round-trips + a
        # Python stack walk per API call — ~2-3 s per crawl round at bench
        # scale (measured: crawl_rounds 12.9→10.0 s). Only error-message
        # call-site decoration is lost.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Janino compiles a generated class once per JVM only while it stays in
        # this LRU cache. Spark's default (100 classes) is smaller than one
        # step's working set — measured ≈146 classes at curate_corpus set-up,
        # ≈130 per curation pass and 145–193 per crawl round — so every class
        # would be evicted before its next use and each step recompile (≈1.2 s
        # per curation pass). 1000 is ≥5× the largest step; with the cache
        # full, a long crawl's metaspace stays flat (≈186 MB on local[4]).
        # A static conf: it must be set before the session starts.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # The cache is keyed by the generated source, and by default each
        # whole-stage class is named after its stage id
        # (GeneratedIteratorForCodegenStage<N>), so the same pipeline at
        # another stage id — a plan that gained or lost a stage before it —
        # is new source and compiles again. With one class name for every
        # stage, equal pipelines share one compiled class (perfbench
        # crawl_backlog seed 21, local[4], rounds 2–4: 71/73/81 → 41/49/33
        # compiles). Only class names in generated-code dumps lose the id.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # At 100 TB this bounds scan-task size; harmless locally.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    # spark-submit provides the master as a JVM system property (spark.master);
    # setting builder.master() then would OVERRIDE a cluster master with
    # local[*] and silently un-distribute the job. Detection: spark-submit's
    # PythonRunner launches the JVM FIRST and hands the Python driver its
    # gateway via PYSPARK_GATEWAY_PORT — before that gateway exists,
    # SparkConf() is a plain empty dict (it never launches a JVM), so probing
    # it alone would always say "no master" in exactly the case that matters.
    submitted_master = "PYSPARK_GATEWAY_PORT" in os.environ
    if not submitted_master:
        from pyspark import SparkConf
        from pyspark.core.context import SparkContext

        # belt-and-braces for exotic embeddings where a gateway already exists
        submitted_master = SparkContext._jvm is not None and SparkConf().contains(
            "spark.master"
        )
    # Local mode: shuffle through RAM. The sandbox's virtual disk writes at
    # ~340 MB/s and would serialize every shuffle; on a real cluster each
    # executor shuffles to its own local NVMe, which /dev/shm models better.
    if not submitted_master and master.startswith("local") and os.path.isdir("/dev/shm"):
        b = b.config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-tmp"))
    if "SPARK_MASTER" in os.environ or not submitted_master:
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
