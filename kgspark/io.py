"""TableIO — snapshot-committed parquet tables with resume semantics.

Stand-in for an Iceberg catalog (SURVEY.md §7.1): the sandbox has no
network to fetch the iceberg-spark-runtime jar, so tables are parquet
directories plus a JSON manifest giving Iceberg-like snapshot commit /
current-pointer / input-lineage semantics. All engine table access goes
through this shim, so swapping in `spark.read.format("iceberg")` on a
real cluster is a one-class change. The exact catalog semantics the
engine relies on (atomic pointer swap, immutable snapshot lineage,
time-travel reads, partition pruning, snapshot-bound metadata, snapshot
expiry) are enumerated one-test-per-contract in
tests/test_io.py::TestIcebergConformance, with the TableIO->Iceberg
feature mapping in its docstring — running that suite against a real
Iceberg catalog validates the swap.

Layout:
    <warehouse>/<table>/manifest.json
    <warehouse>/<table>/s0000/  (parquet dir per snapshot)
    <warehouse>/_qcache/<key>.json  (query-result cache, one record per key)

A snapshot is committed atomically by writing the parquet dir first and
renaming a temp manifest over the old one last. `input_snapshot` records
which upstream snapshot a stage consumed — the resume check
(`find_snapshot`) skips a stage when a committed snapshot for the same
input already exists (north rule: resumable from checkpoint).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: warehouse subdirectory of the query-result cache: one JSON record per
#: key, so a lookup reads one file whatever the number of cached queries
CACHE_DIR = "_qcache"


def _replace_json(path: str, obj: Any, indent: int | None = 1) -> None:
    """Write `obj` as JSON to `path` atomically: a temp file in the same
    directory, then os.replace — a reader sees the old file or the new
    one, never a torn write."""
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(obj, f, indent=indent)
    os.replace(tmp, path)


def local_frame(spark: SparkSession, rows, schema: StructType) -> DataFrame:
    """Driver-side rows as an Arrow-backed LocalRelation: reading it runs
    no Spark job, unlike spark.createDataFrame(<list>), which pickles the
    rows into an RDD scan. Nulls, NaN and int columns round-trip exactly,
    and the values are data, not plan literals, so a plan over them
    generates the same code whatever the values are."""
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_pydict(
        {f.name: [r[i] for r in rows] for i, f in enumerate(arrow_schema)},
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


class TableIO:
    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.warehouse, table, "manifest.json")

    def _load_manifest(self, table: str) -> dict[str, Any]:
        path = self._manifest_path(table)
        if not os.path.exists(path):
            return {"snapshots": [], "current": None}
        with open(path) as f:
            return json.load(f)

    def _store_manifest(self, table: str, manifest: dict[str, Any]) -> None:
        _replace_json(self._manifest_path(table), manifest)

    # -- query-result cache ------------------------------------------------
    def _cache_path(self, key: str) -> str:
        return os.path.join(self.warehouse, CACHE_DIR, f"{key}.json")

    def cache_get(self, key: str) -> dict[str, Any] | None:
        """The JSON record stored under `key`, or None."""
        try:
            with open(self._cache_path(key)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def cache_put(self, key: str, record: dict[str, Any]) -> None:
        """Store `record` under `key`, replacing any earlier record in
        place (the key names the file)."""
        _replace_json(self._cache_path(key), record, indent=None)

    # -- commits -----------------------------------------------------------
    def commit(
        self,
        table: str,
        df: DataFrame,
        input_snapshot: str | None = None,
        partition_by: list[str] | None = None,
        metadata: dict[str, Any] | None = None,
        stats_cols: list[str] | None = None,
    ) -> str:
        """Commit a snapshot. With `stats_cols`, per-FILE min/max of
        those columns are collected into the manifest (one scan of the
        just-written data) — the Iceberg manifest-stats analog that
        `read_pruned` uses for file skipping. Pair with a z-ordered or
        range-partitioned layout so each file covers a narrow range."""
        manifest = self._load_manifest(table)
        snap_id = f"s{len(manifest['snapshots']):04d}"
        path = os.path.join(self.warehouse, table, snap_id)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        entry: dict[str, Any] = {
            "id": snap_id,
            "path": path,
            "input_snapshot": input_snapshot,
            "metadata": metadata or {},
        }
        if stats_cols:
            from pyspark.sql import functions as F  # noqa: PLC0415

            spark = df.sparkSession
            aggs = []
            for c in stats_cols:
                aggs += [
                    F.min(c).alias(f"__min_{c}"),
                    F.max(c).alias(f"__max_{c}"),
                ]
            rows = (
                spark.read.parquet(path)
                .groupBy(F.input_file_name().alias("__file"))
                .agg(*aggs)
                .collect()
            )
            entry["file_stats"] = {
                r["__file"]: {
                    c: [r[f"__min_{c}"], r[f"__max_{c}"]]
                    for c in stats_cols
                }
                for r in rows
            }
        manifest["snapshots"].append(entry)
        manifest["current"] = snap_id
        self._store_manifest(table, manifest)
        return snap_id

    # -- multi-table transactions -----------------------------------------
    def _txn_path(self) -> str:
        return os.path.join(self.warehouse, "__transactions.json")

    def _load_txns(self) -> list[dict[str, Any]]:
        if not os.path.exists(self._txn_path()):
            return []
        with open(self._txn_path()) as f:
            return json.load(f)

    def commit_many(
        self,
        tables: dict[str, DataFrame],
        metadata: dict[str, Any] | None = None,
    ) -> str:
        """Atomic multi-table commit (the Iceberg catalog-transaction
        analog): readers must never observe the kg_nodes snapshot from
        one pipeline run joined against kg_edges from another — edge
        endpoints would dangle. Protocol:

        1. write every table's data dir and append its snapshot entry
           WITHOUT advancing the table's `current` pointer (pending
           snapshots are invisible to readers);
        2. the commit point: ONE atomic os.replace of the warehouse
           transaction log recording {txn_id, table -> snapshot};
        3. roll each table's `current` pointer forward (best-effort —
           a crash here is repaired by `recover_transactions`, and
           `read_txn` is immune because it resolves snapshots through
           the txn record, never through the pointers).

        A crash BEFORE step 2 leaves every pointer on the old
        snapshots (pending data is unreachable garbage, reclaimable by
        expire_snapshots); a crash AFTER step 2 is completed by
        recovery. Either way no reader sees a mixed state.

        Returns the transaction id.
        """
        staged: dict[str, str] = {}
        for table, df in tables.items():
            manifest = self._load_manifest(table)
            snap_id = f"s{len(manifest['snapshots']):04d}"
            path = os.path.join(self.warehouse, table, snap_id)
            df.write.mode("overwrite").parquet(path)
            manifest["snapshots"].append(
                {
                    "id": snap_id,
                    "path": path,
                    "input_snapshot": None,
                    "metadata": {"pending_txn": True},
                }
            )
            self._store_manifest(table, manifest)  # current unchanged
            staged[table] = snap_id
        txns = self._load_txns()
        txn_id = f"t{len(txns):04d}"
        txns.append(
            {"id": txn_id, "tables": staged, "metadata": metadata or {}}
        )
        _replace_json(self._txn_path(), txns)  # <- the commit point
        self._roll_forward(txns[-1])
        return txn_id

    def _roll_forward(self, txn: dict[str, Any]) -> None:
        for table, snap_id in txn["tables"].items():
            manifest = self._load_manifest(table)
            for s in manifest["snapshots"]:
                if s["id"] == snap_id:
                    s["metadata"].pop("pending_txn", None)
            manifest["current"] = snap_id
            self._store_manifest(table, manifest)

    def recover_transactions(self) -> list[str]:
        """Complete any committed transaction whose per-table pointer
        roll-forward was interrupted (idempotent). Run at warehouse
        open, like Iceberg catalog recovery. Returns repaired ids."""
        repaired = []
        for txn in self._load_txns():
            stale = [
                t
                for t, s in txn["tables"].items()
                if self._load_manifest(t)["current"] != s
                and any(
                    e["id"] == s for e in self._load_manifest(t)["snapshots"]
                )
            ]
            # only the LATEST txn per table may roll forward; older
            # txns legitimately have superseded pointers
            latest_for: dict[str, str] = {}
            for t2 in self._load_txns():
                for tab, sn in t2["tables"].items():
                    latest_for[tab] = sn
            stale = [t for t in stale if latest_for.get(t) == txn["tables"][t]]
            if stale:
                self._roll_forward(txn)
                repaired.append(txn["id"])
        return repaired

    def read_txn(
        self,
        spark: SparkSession,
        txn_id: str | None = None,
    ) -> dict[str, DataFrame]:
        """Read EVERY table of a transaction at its recorded snapshot
        — cross-table-consistent regardless of pointer state. Default:
        the latest transaction."""
        txns = self._load_txns()
        if not txns:
            raise FileNotFoundError("no transactions committed")
        txn = (
            txns[-1]
            if txn_id is None
            else next(t for t in txns if t["id"] == txn_id)
        )
        return {
            table: self.read(spark, table, snapshot=snap_id)
            for table, snap_id in txn["tables"].items()
        }

    # -- reads -------------------------------------------------------------
    def read(
        self, spark: SparkSession, table: str, snapshot: str | None = None
    ) -> DataFrame:
        manifest = self._load_manifest(table)
        snap_id = snapshot or manifest["current"]
        if snap_id is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        entry = next(s for s in manifest["snapshots"] if s["id"] == snap_id)
        if entry.get("expired"):
            raise FileNotFoundError(
                f"table {table} snapshot {snap_id} has been expired"
            )
        return spark.read.parquet(entry["path"])

    def read_pruned(
        self,
        spark: SparkSession,
        table: str,
        predicates: dict[str, tuple],
        snapshot: str | None = None,
    ):
        """File-skipping read: open ONLY the files whose recorded
        min/max stats overlap every [lo, hi] in `predicates`
        ({col: (lo, hi)}), then apply the residual filter — the
        Iceberg manifest-pruning analog, and the read-side payoff of
        zorder_layout (each z-sorted file covers a narrow range in
        every z-dimension, so a box predicate eliminates most files
        before any IO). Returns (DataFrame, files_read, files_total);
        falls back to all files for columns without stats.
        """
        manifest = self._load_manifest(table)
        snap_id = snapshot or manifest["current"]
        if snap_id is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        entry = next(s for s in manifest["snapshots"] if s["id"] == snap_id)
        stats = entry.get("file_stats")
        if not stats:
            raise ValueError(
                f"snapshot {snap_id} has no file_stats; commit with stats_cols"
            )
        keep = []
        for f, colstats in stats.items():
            ok = True
            for c, (lo, hi) in predicates.items():
                if c in colstats:
                    mn, mx = colstats[c]
                    if mn is None or mx is None or mx < lo or mn > hi:
                        ok = False
                        break
            if ok:
                keep.append(f)
        total = len(stats)
        if not keep:
            df = spark.read.parquet(entry["path"]).limit(0)
            return df, 0, total
        df = spark.read.parquet(*keep)
        from pyspark.sql import functions as F  # noqa: PLC0415

        for c, (lo, hi) in predicates.items():
            df = df.filter((F.col(c) >= lo) & (F.col(c) <= hi))
        return df, len(keep), total

    def read_all(self, spark: SparkSession, table: str) -> DataFrame:
        """Union of EVERY committed snapshot — the read side of append-
        only tables (e.g. `_lineage`, where each run commits only its
        delta instead of rewriting history)."""
        manifest = self._load_manifest(table)
        paths = [
            s["path"] for s in manifest["snapshots"] if not s.get("expired")
        ]
        if not paths:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        # mergeSchema: snapshots may span a schema evolution (a column
        # added in a later commit) — the Iceberg add-column analog;
        # old rows surface NULL for new columns instead of the union
        # failing or silently adopting one file's schema
        return spark.read.option("mergeSchema", "true").parquet(*paths)

    def accumulated_snapshots(self, table: str) -> list[dict[str, Any]]:
        """The snapshot entries that make up the table's accumulated
        state: the latest full (non-append) snapshot plus every
        append-mode snapshot committed after it. A table only ever
        written by full commits accumulates to just its latest
        snapshot; appends before a full rewrite are superseded by it."""
        manifest = self._load_manifest(table)
        active = [
            s for s in manifest["snapshots"] if not s.get("expired")
        ]
        if not active:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        full_idx = [
            i
            for i, s in enumerate(active)
            if s.get("metadata", {}).get("mode") != "append"
        ]
        start = full_idx[-1] if full_idx else 0
        return active[start:]

    def read_accumulated(self, spark: SparkSession, table: str) -> DataFrame:
        """Read the accumulated state of a table maintained by
        incremental appends (Iceberg analog: the current snapshot of an
        append-written table). See accumulated_snapshots."""
        paths = [s["path"] for s in self.accumulated_snapshots(table)]
        return spark.read.option("mergeSchema", "true").parquet(*paths)

    def current_snapshot(self, table: str) -> str | None:
        return self._load_manifest(table)["current"]

    def snapshot_diff(
        self,
        spark: SparkSession,
        table: str,
        from_snapshot: str,
        to_snapshot: str | None = None,
        keys: list[str] | None = None,
    ) -> DataFrame:
        """Time-travel diff between two committed snapshots — the
        Iceberg changelog-scan analog (`table_changes`), derived from
        state because this shim stores full snapshots.

        Without `keys`: multiset row diff via exceptAll both ways,
        tagged change='insert'/'delete'. One shuffle on all columns —
        fine for narrow tables; at 100 TB pass `keys`.

        With `keys`: CDC semantics — full-outer join on the key with a
        row-hash comparison of the remaining columns, emitting
        (keys..., change in insert|delete|update, old_hash, new_hash).
        One shuffle on the key columns only; the row hash is computed
        map-side so wide rows never shuffle twice. Each column is
        hashed SEPARATELY before the row hash (fixed-width tokens, a
        distinct NULL sentinel) so NULL-position swaps and values
        containing the separator cannot collide — concat_ws silently
        drops NULLs, which would report real updates as unchanged.
        """
        from pyspark.sql import functions as F  # noqa: PLC0415

        old = self.read(spark, table, from_snapshot)
        new = self.read(spark, table, to_snapshot)
        if not keys:
            added = new.exceptAll(old).withColumn(
                "change", F.lit("insert")
            )
            removed = old.exceptAll(new).withColumn(
                "change", F.lit("delete")
            )
            return added.unionByName(removed)
        val_cols = [c for c in new.columns if c not in keys]
        rh = F.md5(
            F.concat(
                *[
                    F.coalesce(
                        F.md5(F.col(c).cast("string")), F.lit("-")
                    )
                    for c in val_cols
                ]
            )
        )
        o = old.select(*keys, rh.alias("old_hash"))
        n = new.select(*keys, rh.alias("new_hash"))
        j = o.join(n, keys, "full_outer")
        return j.select(
            *keys,
            F.when(F.col("old_hash").isNull(), F.lit("insert"))
            .when(F.col("new_hash").isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("change"),
            "old_hash",
            "new_hash",
        ).filter(
            F.col("old_hash").isNull()
            | F.col("new_hash").isNull()
            | (F.col("old_hash") != F.col("new_hash"))
        )

    def snapshot_metadata(
        self, table: str, snapshot: str | None = None
    ) -> dict[str, Any]:
        """Metadata dict recorded at commit time (e.g. IVF centroids,
        BM25 corpus scalars) for the given — default current — snapshot."""
        manifest = self._load_manifest(table)
        snap_id = snapshot or manifest["current"]
        if snap_id is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        entry = next(s for s in manifest["snapshots"] if s["id"] == snap_id)
        return entry["metadata"]

    # -- maintenance (reference O28: kg_builder.clear_all / delete) --------
    def tables(self) -> list[str]:
        """Tables with a manifest in this warehouse."""
        return sorted(
            d for d in os.listdir(self.warehouse)
            if os.path.exists(self._manifest_path(d))
        )

    def drop(self, table: str) -> None:
        """Remove a table entirely — data dirs and manifest (reference
        O28, neo4j_store.py clear/delete surface)."""
        tdir = os.path.join(self.warehouse, table)
        if os.path.exists(tdir):
            shutil.rmtree(tdir)

    def truncate(self, table: str) -> None:
        """Delete all snapshots and reset the manifest to empty; the
        table keeps existing but has no committed data."""
        manifest = self._load_manifest(table)
        for s in manifest["snapshots"]:
            if os.path.exists(s["path"]):
                shutil.rmtree(s["path"])
        self._store_manifest(table, {"snapshots": [], "current": None})

    def expire_snapshots(self, table: str, keep_last: int = 1) -> list[str]:
        """Iceberg-style snapshot expiry: drop the data of all but the
        most recent `keep_last` snapshots (the current snapshot is
        always kept). Returns the expired snapshot ids. Expired entries
        stay in the manifest flagged `expired` so snapshot ids never
        get reused, but their lineage no longer satisfies a resume
        check and their data is gone.

        On an append-maintained table, every snapshot in the
        accumulated set (last full commit + later append-mode deltas)
        is LIVE data, not superseded history — those are always kept,
        so expiry can never silently destroy part of the accumulated
        corpus (only appends superseded by a later full rewrite, and
        old full snapshots, are expirable)."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        manifest = self._load_manifest(table)
        snaps = manifest["snapshots"]
        keep_ids = {s["id"] for s in snaps[-keep_last:]}
        if manifest["current"] is not None:
            keep_ids.add(manifest["current"])
        try:
            keep_ids.update(
                s["id"] for s in self.accumulated_snapshots(table)
            )
        except FileNotFoundError:
            pass
        expired = []
        for s in snaps:
            if s["id"] in keep_ids or s.get("expired"):
                continue
            if os.path.exists(s["path"]):
                shutil.rmtree(s["path"])
            s["expired"] = True
            expired.append(s["id"])
        self._store_manifest(table, manifest)
        return expired

    def compact(
        self,
        spark: SparkSession,
        table: str,
        num_files: int | None = None,
        target_rows_per_file: int = 4_000_000,
        partition_by: list[str] | None = None,
    ) -> str:
        """Iceberg `rewrite_data_files` analog: rewrite the table's
        accumulated state (last full snapshot + later append deltas)
        as ONE full snapshot with a controlled file count — the
        small-file maintenance op every append-heavy 100 TB table
        needs, because each streaming/incremental commit adds files
        and scan cost grows with file count, not data size.

        The compacted commit's mode is 'compact' (a FULL rewrite), so
        the accumulated set collapses to it and the superseded deltas
        become expirable by expire_snapshots — same two-step contract
        as Iceberg (rewrite, then expire). Returns the new snapshot id.
        """
        snaps = self.accumulated_snapshots(table)
        df = spark.read.parquet(*[s["path"] for s in snaps])
        if num_files is None:
            n = df.count()
            num_files = max(1, -(-n // target_rows_per_file))
        out = df.repartition(num_files)
        return self.commit(
            table,
            out,
            input_snapshot=snaps[-1]["id"],
            partition_by=partition_by,
            metadata={
                "mode": "compact",
                "compacted_from": [s["id"] for s in snaps],
                "num_files": num_files,
            },
        )

    def clear_all(self) -> None:
        """Drop every table in the warehouse and the query-result cache
        (reference clear_all, kg_builder.py:175-187). The cache goes too:
        a rebuilt warehouse reuses snapshot ids, so a record keyed on the
        old `chunks` snapshot would be served for the new corpus."""
        for table in self.tables():
            self.drop(table)
        cache_dir = os.path.join(self.warehouse, CACHE_DIR)
        if os.path.exists(cache_dir):
            shutil.rmtree(cache_dir)

    def find_snapshot(self, table: str, input_snapshot: str | None) -> str | None:
        """Resume check: a committed snapshot whose lineage matches the
        given upstream snapshot id (latest wins)."""
        manifest = self._load_manifest(table)
        for s in reversed(manifest["snapshots"]):
            if s["input_snapshot"] == input_snapshot and not s.get("expired"):
                return s["id"]
        return None
