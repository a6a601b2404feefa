"""web_crawling_prj_spark — a PySpark-native URL-frontier + crawl-scheduling engine.

A brand-new implementation (not a port) of the data-processing semantics of the
reference crawl/ETL system ``tiendinhquang/web-crawling-prj``:

- frontier construction + seen-set dedup (reference: set-subtraction anti-joins,
  ``services/wayfair_service.py:196-252``) as a write-time left-anti join whose
  strategy (broadcast or co-located merge) the planner picks — no Bloom filter;
- politeness-aware per-host scheduling (reference: rate-limit sleeps + semaphores,
  ``services/request_client.py:222-263``) as salted window-ranked DataFrames;
- retry/backoff/circuit-breaker semantics (reference: ``services/error_handler.py``)
  as pure column arithmetic over a fetch-attempts table;
- byte-deterministic HTML→text extraction via vectorized pandas/Arrow UDFs;
- SCD2 hash-keyed warehouse merges (reference: ``utils/common/db_loader/data_loader.py``)
  as anti-join + union + window DataFrame programs;
- atomic per-round checkpointing with lineage counters (parquet + manifest, Iceberg-shaped).

Everything is DataFrame-first: Catalyst handles pushdown/pruning/join strategy; the only
Python on the hot path is Arrow-vectorized (pandas UDFs / mapInPandas).
"""

__version__ = "0.1.0"

SEED = 42
