"""Atomic per-round state checkpointing (Iceberg-shaped, parquet-manifest backed).

Semantics required by the north rule: every crawl round commits frontier /
seen-delta / fetch_log / metrics ATOMICALLY, and a killed run resumes from the
last committed round reproducing identical state (reference analog: the
filename seen-set makes re-runs idempotent, dags/common/base_source_dag.py:96,
107-114 + mode='failed').

The sandbox image has no Iceberg jars (guide §Sources), so the store is a thin
abstraction with the same commit semantics implemented on plain parquet:

    root/<table>/round=NNNNNN/*.parquet     # data, written FIRST
    root/_manifests/NNNNNN.json             # commit marker, renamed into place LAST

A round is committed iff its manifest exists; data directories without a
manifest are garbage from a killed run and are ignored (and cleaned on the next
commit attempt). `os.rename` within a directory is atomic on POSIX — the same
single-atomic-swap trick Iceberg uses with its metadata pointer. On a real
cluster, swap this class for Iceberg `writeTo(...).append()` + snapshot tags;
every caller goes through this interface, nothing else changes. The manifest
also records each table's schema DDL, so reads of committed rounds pass it to
the reader instead of inferring it (one Spark job per scan); a manifest
without schemas is read by inference.

**Durability.** Both commit points — the round manifest and the tier pointer
(``_manifests/<table>.base.json``) — are a rename of a fully written temp
file, with no fsync of the file, the data or the directory. A commit is
therefore atomic against process death (a killed driver leaves the old
state or the new one, never a mix), but not safe against power loss or a
kernel crash: the rename can reach disk before the data it publishes. An
object store has no atomic rename; the same guarantee there needs a
conditional put (create-if-absent) of the manifest.

Tables are partitioned by round (directory) and data files are laid out by the
seen-set bucket column where applicable, so reads prune by round and joins can
reuse the bucket layout.

**Bucketed layout** (``bucket_spec``): for tables named in ``bucket_spec`` —
``{table: (key_col, num_buckets)}`` — every FOLD TIER is written as a
BUCKETED metastore table (``bucketBy(n, key)`` + explicit ``path`` under the
store root, so the data files and the pointer commit point are exactly where
they always were; only the catalog entry is extra). Tiers hold the backlog,
and this is the 100 TB steady-state answer to joins against it: when both
sides carry the same ``HashPartitioning(key, n)`` bucket layout, the join
needs ZERO exchanges — each task reads its own bucket from both sides
(Iceberg bucket-partition transform analog). Per-round dirs are plain
parquet: they hold ≤ K rounds of churn, every reader scans them together as
one multi-path read (which never exposes a partitioning), and callers
repartition on the key, so a round still writes ≤ n files. The tier
pointer (``_manifests/<table>.base.json``) is the only record of a table's
layout: each bucketed tier carries its (col, n) and schema DDL, a plain tier
neither; round manifests record no layout. The drift check compares a
writer's spec with the newest tier, so a store is free to pick its layout
until its first fold and fixed after it. The catalog holds exactly the live
tiers; entries are re-created from the tier pointer on read
(``_ensure_registered``), so a resumed driver in a fresh session — whose
in-memory catalog is empty — sees the same bucketed tiers.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
from typing import Any

from pyspark.sql import DataFrame, SparkSession

def guard_union_partitioning(spark: SparkSession) -> None:
    """WRONG-RESULTS GUARD (upstream Spark 4.1.2), enforced at the library
    level so store reads are correct under ANY caller-built session, not only
    ``wcp.session.get_spark`` (which sets the same conf at build time).

    With ``spark.sql.unionOutputPartitioning=true`` (the upstream default), a
    Union of two co-bucketed table scans claims its children's
    HashPartitioning even though Union CONCATENATES partitions (key k lands in
    partition i AND n+i) — a downstream distinct/groupBy/latest-event
    resolution then elides its exchange (including an explicit
    ``repartition()``) and returns DUPLICATE rows. Unions of branches built on
    bucketed tier scans (the crawl's live view and its incumbent probe) are
    exactly that shape, so this must be off in the session executing those
    plans. The conf is runtime-settable, and ``conf.set`` accepts even a key
    a Spark build does not know, so nothing here is expected to raise.
    Flipping it only removes an (incorrect) exchange elision, it never
    changes results of correct plans. Cost: one conf round-trip per call
    (sub-ms) — called once per store read entry point, not per row.
    """
    key = "spark.sql.unionOutputPartitioning"
    if spark.conf.get(key, "true") != "false":
        spark.conf.set(key, "false")


class StateStore:
    def __init__(self, root: str, bucket_spec: dict[str, tuple[str, int]] | None = None):
        self.root = root
        self.bucket_spec = bucket_spec or {}
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
        # catalog names must be unique per store root (tests run many stores
        # against one session) and survive nothing — the tier pointer carries
        # the DDL to re-register them anywhere
        self._prefix = "wcs_" + hashlib.md5(os.path.abspath(root).encode()).hexdigest()[:10]

    # --- bucketed-tier plumbing ---

    def _tier_catalog_name(self, table: str, upto: int) -> str:
        return f"{self._prefix}_{table}_base_{upto:06d}"

    @staticmethod
    def _schema_ddl(df: DataFrame) -> str:
        return df._jdf.schema().toDDL()

    @staticmethod
    def _write_plain(df: DataFrame, path: str) -> None:
        if os.path.exists(path):
            shutil.rmtree(path)  # orphan from a killed run
        df.write.mode("overwrite").parquet(path)

    def _write_bucketed(self, df: DataFrame, table: str, path: str, tbl: str) -> dict[str, Any]:
        """Write fold tier `df` as a bucketed external table at `path`;
        returns the tier-pointer metadata needed to re-register it in a
        fresh session.

        Callers own the partitioning: data already laid out as
        ``HashPartitioning(key, n)`` (repartition(n, key)) writes exactly one
        file per bucket — bucketBy uses the same murmur3+pmod id expression —
        while unpartitioned input writes up to tasks×n files (correct, just
        more files)."""
        col, n = self.bucket_spec[table]
        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        if os.path.exists(path):
            shutil.rmtree(path)  # orphan from a killed run
        ddl = self._schema_ddl(df)
        # sortBy(key): with one file per bucket (callers repartition(n, key))
        # the scan exposes per-bucket ordering too, so the anti-join is a pure
        # streaming merge — no exchange AND no sort at read time
        (
            df.write.mode("overwrite")
            .option("path", path)
            .bucketBy(n, col)
            .sortBy(col)
            .saveAsTable(tbl)
        )
        return {"col": col, "n": n, "ddl": ddl}

    def _ensure_registered(
        self, spark: SparkSession, tbl: str, path: str, meta: dict[str, Any]
    ) -> None:
        """Re-create the catalog entry (fresh session after resume). The table
        is EXTERNAL (explicit LOCATION) — registration never touches data."""
        # every bucketed catalog read passes through here: the one choke point
        # where the union-partitioning wrong-results guard must hold
        guard_union_partitioning(spark)
        if spark.catalog.tableExists(tbl):
            return
        spark.sql(
            f"CREATE TABLE {tbl} ({meta['ddl']}) USING PARQUET "
            f"CLUSTERED BY ({meta['col']}) SORTED BY ({meta['col']}) INTO {meta['n']} BUCKETS "
            f"LOCATION '{path}'"
        )

    # --- manifest plumbing ---

    def _manifest_path(self, round_id: int) -> str:
        return os.path.join(self.root, "_manifests", f"{round_id:06d}.json")

    def _round_ddl(self, table: str, rounds: list[int]) -> str | None:
        """The schema DDL the manifests of ``rounds`` recorded for ``table``,
        or None when one of them recorded none (a manifest written before
        commits recorded schemas) or they disagree."""
        ddls = {self.manifest(r).get("schemas", {}).get(table) for r in rounds}
        return ddls.pop() if len(ddls) == 1 else None

    @staticmethod
    def _scan(spark: SparkSession, ddl: str | None, *paths: str, **options: str) -> DataFrame:
        """Plain parquet scan of ``paths``. With the table's recorded schema
        ``ddl`` the reader infers nothing: building the DataFrame starts no
        Spark job (inference runs one per scan to read a footer)."""
        reader = spark.read.options(**options)
        if ddl is not None:
            reader = reader.schema(ddl)
        return reader.parquet(*paths)

    def _read_rounds(self, spark: SparkSession, table: str, rounds: list[int]) -> DataFrame:
        """One multi-path scan over per-round dirs. basePath makes the scan a
        single job with directory-level pruning; the synthetic `round`
        partition column it adds is dropped so multi-round reads union
        cleanly with tier reads (which see no partition dir)."""
        paths = [self._table_round_dir(table, r) for r in rounds]
        ddl = self._round_ddl(table, rounds)
        return self._scan(spark, ddl, *paths, basePath=os.path.join(self.root, table)).drop("round")

    def committed_rounds(self) -> list[int]:
        d = os.path.join(self.root, "_manifests")
        return sorted(
            int(f[:-5]) for f in os.listdir(d) if f.endswith(".json") and f[:-5].isdigit()
        )

    def last_committed_round(self) -> int | None:
        r = self.committed_rounds()
        return r[-1] if r else None

    def manifest(self, round_id: int) -> dict[str, Any]:
        with open(self._manifest_path(round_id)) as f:
            return json.load(f)

    # --- write path ---

    def _table_round_dir(self, table: str, round_id: int) -> str:
        return os.path.join(self.root, table, f"round={round_id:06d}")

    def commit_round(
        self,
        round_id: int,
        tables: dict[str, DataFrame],
        extra_meta: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Write all tables for a round, then atomically publish the manifest.

        If the process dies mid-write, no manifest exists → the round never
        happened; rerunning the round overwrites the orphan directories. The
        manifest rename is the round's only commit step. A writer whose
        bucket spec drifted from a table's fold tiers is refused before
        anything is written (``_check_layout_drift``).
        """
        if os.path.exists(self._manifest_path(round_id)):
            raise ValueError(f"round {round_id} already committed")
        for name in tables:  # refuse a drifted writer before anything is written
            self._check_layout_drift(name)
        from concurrent.futures import ThreadPoolExecutor

        def _write(item):
            name, df = item
            self._write_plain(df, self._table_round_dir(name, round_id))

        # independent output dirs → write concurrently (the scheduler overlaps
        # the jobs); the manifest rename below stays the single commit point,
        # so atomicity/resume semantics are unchanged. Width = every table at
        # once (≤8 per round): most round tables are tiny (metrics/run_report/
        # host_state) and their writes are job-LATENCY-bound, not
        # resource-bound — capping at 4 serialized two waves of latency
        # (guide §2.6 overlap-independent-jobs; measured ~1 s/round at bench
        # scale, and on a cluster the big writes' task tails backfill).
        with ThreadPoolExecutor(max_workers=min(8, max(1, len(tables)))) as ex:
            list(ex.map(_write, tables.items()))
        # each table's schema as a read returns it (parquet reads make every
        # column nullable), so reads of the round need no inference job and
        # rounds whose writers differed only in nullability share one DDL
        schemas = {n: df._jdf.schema().asNullable().toDDL() for n, df in sorted(tables.items())}
        meta = {
            "round_id": round_id,
            "tables": sorted(tables),
            "schemas": schemas,
            **(extra_meta or {}),
        }
        fd, tmp = tempfile.mkstemp(dir=os.path.join(self.root, "_manifests"), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(meta, f)
        os.rename(tmp, self._manifest_path(round_id))  # the atomic commit point
        return meta

    def _check_layout_drift(self, table: str) -> None:
        """The bucket layout is STORE-INTRINSIC once a fold tier exists: a
        writer whose spec differs from the newest tier's — different
        (col, n), bucketing dropped, or bucketing newly added — would fold
        later rounds into a mismatched layout, and every co-partitioned join
        would silently regain its exchange. Refuse loudly, in BOTH
        directions. The tier pointer is the only record of a layout (a
        bucketed tier records col/n, a plain one neither); before the first
        fold nothing is on disk to drift from, so any writer is accepted."""
        tiers = self.tiers(table)
        if not tiers:
            return
        old = (tiers[-1]["col"], tiers[-1]["n"]) if "col" in tiers[-1] else None
        new = tuple(self.bucket_spec[table]) if table in self.bucket_spec else None
        if old != new:
            was = f"bucketed {old}" if old else "plain"
            now = f"bucketed {new}" if new else "plain"
            raise ValueError(
                f"{table}: store tiers are {was} but this writer is {now} — "
                "bucket layout cannot change mid-store"
            )

    # --- compaction (Iceberg rewrite_data_files analog, LSM-tiered) ---
    #
    # read_all unions one directory per committed round; at round 10^4 every
    # seen-set scan would list 10^4 dirs. compact() folds rounds into base
    # TIERS with an LSM-style size-tiered schedule:
    #
    #   MINOR fold (the common case): only the rounds since the newest tier
    #   are read and written into ONE new tier — O(K·delta) work, never a
    #   rewrite of the accumulated seen-set. At 10^10 rows, folding the whole
    #   base every K rounds would be an O(N) rewrite per fold (O(N·R/K) total
    #   write amplification over an R-round crawl) — the naive single-base
    #   scheme's hidden scale killer.
    #   MAJOR fold: when the tier count would exceed ``max_tiers``, all tiers
    #   + new deltas merge into one tier — amortized, classic size-tiering.
    #
    # Read amplification stays bounded: read_all / read_parts list at most
    # max_tiers tier dirs + the ≤K un-folded round dirs. The pointer file
    # carries the whole tier list and swaps atomically, so a kill
    # mid-compaction leaves the previous tier set intact. Old round dirs are
    # left in place (read_round/audit still work) — vacuum_compacted()
    # reclaims them.

    def _base_pointer_path(self, table: str) -> str:
        return os.path.join(self.root, "_manifests", f"{table}.base.json")

    def tiers(self, table: str) -> list[dict[str, Any]]:
        """Base tiers, oldest→newest (the pointer file compact() publishes)."""
        path = self._base_pointer_path(table)
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return json.load(f)["tiers"]

    def base_upto(self, table: str) -> int | None:
        t = self.tiers(table)
        return t[-1]["upto"] if t else None

    def _base_dir(self, table: str, upto: int) -> str:
        return os.path.join(self.root, f"{table}__base", f"upto={upto:06d}")

    @staticmethod
    def _dir_has_rows(d: str) -> bool:
        return os.path.isdir(d) and any(f.endswith(".parquet") for f in os.listdir(d))

    def compact(
        self,
        spark: SparkSession,
        table: str,
        up_to: int | None = None,
        max_tiers: int = 4,
        resolver=None,
    ) -> int | None:
        """Fold the rounds since the newest tier into a base tier (minor), or
        everything into one tier when ``max_tiers`` would be exceeded (major);
        atomic pointer swap either way. Returns the new tier's upto round, or
        None if there is nothing to fold. The tier is written in this store's
        ``bucket_spec`` layout, and its pointer entry records that layout; a
        spec that drifted from the newest tier's is refused first.

        ``resolver``: optional callable applied to the folded union before
        writing — for EVENT-LOG tables (e.g. the crawl's ``frontier_log``)
        whose fold must resolve per-key latest state rather than concatenate
        rows. Called as ``resolver(df, terminal)``: ``terminal=True`` means
        the fold output becomes the OLDEST tier (major fold, or the store's
        first tier) — no older layer exists that a tombstone could still
        target, so the resolver may drop tombstones.
        A non-terminal MINOR fold resolves only its own window and must KEEP
        tombstone rows (they shadow keys living in older tiers); readers
        chain tiers newest-over-oldest (each tier's keys shadow older tiers)
        and filter tombstones last — fold cost is O(window churn), never a
        rewrite of the accumulated live set."""
        self._check_layout_drift(table)  # a tier write is where a layout reaches disk
        cur = self.tiers(table)
        floor = cur[-1]["upto"] if cur else -1
        new_rounds = [
            r
            for r in self.committed_rounds()
            if (up_to is None or r <= up_to) and r > floor and self._round_has_rows(table, r)
        ]
        if not new_rounds:
            return None
        upto = max(new_rounds)
        major = len(cur) + 1 > max_tiers
        if major:
            df = self.read_all(spark, table, up_to=upto)  # all tiers + new deltas
        else:
            df = self._read_rounds(spark, table, new_rounds)
        if resolver is not None:
            terminal = major or not cur  # fold output has no tier beneath it
            df = resolver(df, terminal)
        new_dir = self._base_dir(table, upto)
        tier: dict[str, Any] = {"upto": upto}
        if table in self.bucket_spec:
            # every tier carries the bucketed seen-set layout: one repartition
            # on the key per fold buys every subsequent round a shuffle-free
            # anti-join against it
            col, n = self.bucket_spec[table]
            tbl = self._tier_catalog_name(table, upto)
            tier.update(self._write_bucketed(df.repartition(n, col), table, new_dir, tbl))
        else:
            self._write_plain(df, new_dir)
        new_tiers = [tier] if major else [*cur, tier]
        fd, tmp = tempfile.mkstemp(dir=os.path.join(self.root, "_manifests"), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump({"table": table, "tiers": new_tiers}, f)
        os.rename(tmp, self._base_pointer_path(table))  # atomic publish
        if major:  # superseded tiers: reclaim dirs + catalog entries
            for t in cur:
                d = self._base_dir(table, t["upto"])
                if os.path.exists(d):
                    shutil.rmtree(d)
                if table in self.bucket_spec:
                    spark.sql(f"DROP TABLE IF EXISTS {self._tier_catalog_name(table, t['upto'])}")
        return upto

    def vacuum_compacted(self, table: str, spark: SparkSession | None = None) -> int:
        """Delete per-round dirs already folded into the base. Irreversible
        for per-round history: read_round on a folded round and
        read_all(up_to < base) raise afterwards (read_all at or past the base
        is unaffected — the base carries every folded row).

        Also reaps ORPHAN tier dirs: a kill between a major fold's pointer
        publish and its cleanup loop leaves the superseded tier dirs on disk
        with nothing referencing them (the new pointer no longer lists them,
        so no later fold's cleanup ever sees them). Safe by the store's
        single-writer contract — compact and vacuum never run concurrently,
        so an unreferenced ``upto=`` dir is always a leftover, never a tier
        mid-write. Pass ``spark`` to also drop the orphan tiers' catalog
        entries (bucketed tables)."""
        upto = self.base_upto(table)
        if upto is None:
            return 0
        n = 0
        for r in self.committed_rounds():
            d = self._table_round_dir(table, r)
            if r <= upto and os.path.exists(d):
                shutil.rmtree(d)
                n += 1
        live = {t["upto"] for t in self.tiers(table)}
        base_root = os.path.join(self.root, f"{table}__base")
        if os.path.isdir(base_root):
            for name in os.listdir(base_root):
                if not name.startswith("upto="):
                    continue
                try:
                    tier_upto = int(name.split("=", 1)[1])
                except ValueError:
                    continue
                if tier_upto in live:
                    continue
                shutil.rmtree(os.path.join(base_root, name), ignore_errors=True)
                n += 1
                if spark is not None and table in self.bucket_spec:
                    spark.sql(
                        f"DROP TABLE IF EXISTS {self._tier_catalog_name(table, tier_upto)}"
                    )
        return n

    # --- read path (only committed rounds are visible) ---

    def has_table(self, table: str, round_id: int) -> bool:
        """True iff `round_id` is committed AND its dir for this table exists
        (rounds that never wrote the table, and dirs reaped by
        ``vacuum_compacted``, have none)."""
        return os.path.exists(self._manifest_path(round_id)) and os.path.exists(
            self._table_round_dir(table, round_id)
        )

    def read_round(self, spark: SparkSession, table: str, round_id: int) -> DataFrame:
        """One committed round of ``table``: a plain parquet read (per-round
        dirs carry no catalog entry, bucketed tables included)."""
        if not os.path.exists(self._manifest_path(round_id)):
            raise ValueError(f"round {round_id} is not committed")
        ddl = self._round_ddl(table, [round_id])
        return self._scan(spark, ddl, self._table_round_dir(table, round_id))

    def read_parts(
        self, spark: SparkSession, table: str, up_to: int | None = None
    ) -> tuple[list[DataFrame], list[DataFrame]]:
        """Layout-aware split read: ([base tiers, oldest→newest],
        [un-folded rounds]) — the same data `read_all` returns, split at the
        compaction floor.

        Every bucketed tier (its pointer entry records the layout) is a
        catalog read carrying the bucket layout, so a caller can CHAIN
        anti-joins against each tier with zero exchanges (a union would erase
        the partitioning — Spark's Union node reports unknown output
        partitioning even over co-bucketed children). Plain tiers are plain
        dir reads. The un-folded rounds come back as ONE multi-path plain
        scan (a list of 0 or 1 frames): it holds ≤ K rounds of churn, so a
        join against it broadcasts or shuffles only that. Part count is
        bounded: ≤ max_tiers + 1.
        """
        tiers, delta_rounds = self._layers(table, up_to)
        bases = []
        for t in tiers:
            d = self._base_dir(table, t["upto"])
            if "col" in t:  # bucketed tier: the pointer records its layout
                tbl = self._tier_catalog_name(table, t["upto"])
                self._ensure_registered(spark, tbl, d, t)
                bases.append(spark.table(tbl))
            else:
                bases.append(spark.read.parquet(d))
        return bases, [self._read_rounds(spark, table, delta_rounds)] if delta_rounds else []

    def _layers(self, table: str, up_to: int | None) -> tuple[list[dict], list[int]]:
        """The layering both readers share: (usable base tiers that hold
        rows, oldest→newest; the rounds past them that hold rows of ``table``).

        A historical read (up_to below the newest tier) uses the largest
        usable tier prefix and the surviving round dirs. Rounds past the
        usable tiers must still have their dirs — but only rounds whose
        MANIFEST says they wrote this table (a round that never wrote it
        legitimately has no dir; a vacuumed one did and doesn't). A missing
        one was folded into a deeper tier and vacuumed: returning an
        INCOMPLETE seen-set silently would re-schedule already-fetched URLs,
        so this raises instead."""
        rounds = self.committed_rounds()
        if up_to is not None:
            rounds = [r for r in rounds if r <= up_to]
        usable = [t for t in self.tiers(table) if up_to is None or t["upto"] <= up_to]
        floor = usable[-1]["upto"] if usable else -1
        rounds = [r for r in rounds if r > floor]
        missing = [
            r
            for r in rounds
            if table in self.manifest(r).get("tables", [])
            and not os.path.exists(self._table_round_dir(table, r))
        ]
        if missing:
            raise ValueError(
                f"{table}: rounds {missing} were compacted into a tier beyond "
                f"up_to={up_to} and vacuumed; cannot reconstruct history"
            )
        # a tier that folded only empty rounds has no files to read (empty
        # bucketed writes emit none); a round that never wrote the table
        # has no dir
        tiers = [t for t in usable if self._dir_has_rows(self._base_dir(table, t["upto"]))]
        return tiers, [r for r in rounds if self._round_has_rows(table, r)]

    def _round_has_rows(self, table: str, round_id: int) -> bool:
        """True iff the round wrote this table. A round dir always holds a
        data file: a plain write of an EMPTY DataFrame leaves one schema-only
        file, which reads as zero rows (bucketed tier writes of an empty
        DataFrame emit no files at all — hence the tier check in _layers)."""
        return self._dir_has_rows(self._table_round_dir(table, round_id))

    def read_all(self, spark: SparkSession, table: str, up_to: int | None = None) -> DataFrame | None:
        """Union of a table across all committed rounds (e.g. the full seen-set).

        Compaction-aware: reads the base tiers whose upto ≤ requested plus
        only the round deltas after them — ≤ max_tiers + K paths, not
        O(rounds). Deltas go through one multi-path parquet scan → a single
        job with partition pruning by directory, not N sequential reads.
        A historical read (up_to below the newest tier) uses the largest
        usable tier prefix and the surviving round dirs; it raises if the
        needed rounds were folded deeper and vacuumed.
        """
        tiers, delta_rounds = self._layers(table, up_to)
        # a bucketed tier's pointer entry records its schema
        parts = [self._scan(spark, t.get("ddl"), self._base_dir(table, t["upto"])) for t in tiers]
        if delta_rounds:
            parts.append(self._read_rounds(spark, table, delta_rounds))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
