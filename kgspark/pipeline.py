"""Pipeline orchestration: S1..S7 as a linear DAG of stage jobs.

One stage definition, two evaluators. `STAGES` lists each table with
its input tables, and `build_stage(table, read)` builds any of them
from a `read(table) -> DataFrame` callable, reading only the inputs
the stage uses. The evaluators differ only in what `read` returns:

  * `build_kg_frames(spark, pages)` — in memory: the frames built
    before. No writes.

  * `Pipeline(warehouse).run(spark, pages, corpus_id)` — checkpointed:
    TableIO snapshots. Each stage commits a snapshot keyed on its input
    snapshot ids and appends per-partition lineage rows (stage,
    partition_id, n_rows, n_urls, duration_ms, run_id) — the north
    rule's resumable-with-lineage contract; a re-run skips every stage
    whose (table, input_snapshot) pair is already committed.
    `run_append` reads the unconsumed upstream snapshots in the map
    stages and the accumulated extraction in the merge stages.

Lineage is data, not plan: the counts of every snapshot a run committed
are collected in one union job after its last stage and committed from
a local Arrow frame, so run ids, durations and input keys never become
plan literals, and a second run in the same session reuses every
generated class of the first (Spark inlines long literals into
generated code).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from . import cc, linking, stages
from .io import TableIO, local_frame
from .query import build_inverted_index

LINEAGE_DDL = (
    "stage string, partition_id int, run_id string, n_rows long, "
    "n_urls long, duration_ms long, input_snapshot string"
)

# (table, input tables) in stage order. Committed snapshots are keyed on
# their inputs' snapshot ids in this order, so kg_nodes and kg_edges list
# `canonical` even where exact linking does not read it.
STAGES = [
    ("docs", ["pages"]),
    ("chunks", ["docs"]),
    ("embeddings", ["chunks"]),
    ("inverted_index", ["chunks"]),
    ("extracted", ["chunks"]),
    ("canonical", ["extracted"]),
    ("kg_nodes", ["extracted", "canonical"]),
    ("kg_edges", ["extracted", "kg_nodes", "canonical"]),
]


def build_stage(
    table: str,
    read: Callable[[str], DataFrame],
    link_mode: str = "exact",
    salt: int = 0,
    chunk_size: int = 500,
    chunk_overlap: int = 100,
    embed_dim: int = 64,
) -> DataFrame:
    """The STAGES table `table`, built from `read(input_table)`."""
    if table == "docs":
        return stages.extract_text(read("pages"))
    if table == "chunks":
        return stages.chunk(read("docs"), chunk_size, chunk_overlap)
    if table == "embeddings":
        return stages.embed(read("chunks"), embed_dim)
    if table == "inverted_index":
        return build_inverted_index(read("chunks"))
    if table == "extracted":
        return stages.extract(read("chunks"))
    if table == "canonical":
        mentions = stages.mentions_of(read("extracted"))
        return cc.connected_components(
            mentions.select("name").distinct(),
            linking.similarity_edges(mentions, mode=link_mode),
        )
    if table not in ("kg_nodes", "kg_edges"):
        raise KeyError(table)
    # exact linking => canonical_id == name by construction (see cc.py),
    # so the canonical-map joins are identity and elided algebraically.
    # The lsh path keeps them (and their skew handling).
    cmap = read("canonical") if link_mode != "exact" else None
    if table == "kg_nodes":
        return stages.dedup_nodes(stages.mentions_of(read("extracted")), cmap)
    return stages.materialize_edges(
        stages.raw_edges_of(read("extracted")), read("kg_nodes"), cmap,
        salt=salt,
    )


# build_kg_frames persists the stages several consumers branch from and
# fills each cache IN STAGE ORDER with the aggregate given here (None: CC
# has already run eagerly), so kg_edges' plan does not re-run the
# extractor. The chunks fill scans a full column: count() can serve from
# cache stats without populating all column batches.
SHARED_STAGES = {
    "chunks": "sum(length(text))",
    "extracted": "count(name)",
    "canonical": None,
    "kg_nodes": "count(1)",
}


def build_kg_frames(
    spark: SparkSession,
    pages: DataFrame,
    link_mode: str = "exact",
    salt: int = 0,
    chunk_size: int = 500,
    chunk_overlap: int = 100,
    embed_dim: int = 64,
) -> dict[str, DataFrame]:
    """Every STAGES table, in memory, plus `mentions`. `embeddings` and
    `inverted_index` stay lazy (bench.py times the index on its own)."""
    frames = {"pages": pages}
    for table, _ in STAGES:
        df = build_stage(
            table, frames.__getitem__, link_mode, salt, chunk_size,
            chunk_overlap, embed_dim,
        )
        if table in SHARED_STAGES:
            df = df.persist()
            if SHARED_STAGES[table]:
                df.selectExpr(SHARED_STAGES[table]).collect()
        frames[table] = df
    del frames["pages"]
    frames["mentions"] = stages.mentions_of(frames["extracted"])
    return frames


class _StageLog:
    """One run's stage commits: the resume check and the timed build +
    commit per stage, then one lineage delta for the whole run."""

    def __init__(self, io: TableIO, spark: SparkSession, run_id: str):
        self.io = io
        self.spark = spark
        self.run_id = run_id
        self.done: list[tuple[str, str, int, str]] = []
        self.skipped: list[str] = []

    def stage(self, table: str, input_key: str, build,
              metadata: dict | None = None) -> str:
        """The snapshot of `table` for `input_key`: an existing one
        (resumed), else `build()` committed and recorded as
        (table, snapshot, duration_ms, input_key)."""
        existing = self.io.find_snapshot(table, input_key)
        if existing is not None:
            self.skipped.append(table)
            return existing
        t0 = time.monotonic()
        snap = self.io.commit(table, build(), input_key, metadata=metadata)
        dur_ms = int((time.monotonic() - t0) * 1000)
        self.done.append((table, snap, dur_ms, input_key))
        return snap

    def commit(self) -> None:
        """Count each recorded snapshot per scan partition in ONE union
        job and commit this run's lineage delta. Append-only: readers
        union all `_lineage` snapshots (Pipeline.lineage()), so commit
        I/O is O(this run). size(collect_set) counts distinct urls with
        one exchange fewer than countDistinct."""
        if not self.done:
            return
        scans, has_url = [], []
        for i, (table, snap, _, _) in enumerate(self.done):
            df = self.io.read(self.spark, table, snap)
            has_url.append("url" in df.columns)
            url = F.col("url") if has_url[-1] else F.lit(None).cast("string")
            scans.append(df.select(
                F.lit(i).alias("i"), F.spark_partition_id().alias("p"),
                url.alias("url"),
            ))
        counts = (
            reduce(DataFrame.union, scans)
            .groupBy("i", "p")
            .agg(F.count(F.lit(1)), F.size(F.collect_set("url")))
            .collect()
        )
        rows = []
        for i, p, n_rows, n_urls in sorted(counts):
            table, _, dur_ms, input_key = self.done[i]
            rows.append((table, p, self.run_id, n_rows,
                         n_urls if has_url[i] else -1, dur_ms, input_key))
        if rows:  # empty when every committed snapshot is empty
            schema = StructType.fromDDL(LINEAGE_DDL)
            self.io.commit(
                "_lineage", local_frame(self.spark, rows, schema), self.run_id
            )


class Pipeline:
    """Checkpointed, resumable stage driver over a TableIO warehouse."""

    STAGES = STAGES

    def __init__(
        self,
        warehouse: str,
        link_mode: str = "exact",
        salt: int = 0,
        chunk_size: int = 500,
        chunk_overlap: int = 100,
        embed_dim: int = 64,
    ):
        linking.check_link_mode(link_mode)
        self.io = TableIO(warehouse)
        self.params = dict(
            link_mode=link_mode, salt=salt, chunk_size=chunk_size,
            chunk_overlap=chunk_overlap, embed_dim=embed_dim,
        )

    def run(
        self,
        spark: SparkSession,
        pages: DataFrame | None,
        corpus_id: str,
        run_id: str = "r0",
    ) -> dict[str, str]:
        """Execute (or resume) the DAG. Returns {table: snapshot_id}.

        `corpus_id` is the caller's deterministic identity for the input
        corpus (e.g. "pages:n=500:seed=42"); stages are skipped when a
        snapshot for the same input chain already exists.
        """
        snaps: dict[str, str] = {}
        log = _StageLog(self.io, spark, run_id)

        existing = self.io.find_snapshot("pages", corpus_id)
        if existing is not None:
            snaps["pages"] = existing
            log.skipped.append("pages")
        else:
            if pages is None:
                raise ValueError("pages DataFrame required for a fresh run")
            snaps["pages"] = self.io.commit("pages", pages, corpus_id)

        def read(t: str) -> DataFrame:
            return self.io.read(spark, t, snaps[t])

        for table, inputs in self.STAGES:
            input_key = ",".join(f"{t}:{snaps[t]}" for t in inputs)
            snaps[table] = log.stage(
                table, input_key,
                lambda: build_stage(table, read, **self.params),
            )
        log.commit()
        self.last_skipped = log.skipped
        return snaps

    # incremental upload -------------------------------------------------
    DELTA_STAGES = STAGES[:5]   # docs..extracted: pure per-page maps
    MERGE_STAGES = STAGES[5:]   # canonical, kg_nodes, kg_edges

    def _unconsumed(self, table: str, upstream: str) -> list[dict]:
        """Accumulated `upstream` snapshot entries not yet consumed by
        any committed snapshot of `table` — consumption is recorded in
        each commit's input key ("<upstream>:<snapshot_id>" parts)."""
        try:
            ups = self.io.accumulated_snapshots(upstream)
        except FileNotFoundError:
            return []
        consumed: set[str] = set()
        for s in self.io._load_manifest(table).get("snapshots", []):
            for part in (s.get("input_snapshot") or "").split(","):
                if ":" in part:
                    t, sid = part.split(":", 1)
                    if t == upstream:
                        consumed.add(sid)
        return [s for s in ups if s["id"] not in consumed]

    def run_append(
        self,
        spark: SparkSession,
        pages_delta: DataFrame,
        delta_id: str,
        run_id: str = "a0",
    ) -> dict[str, str]:
        """Incremental upload — reference parity: each CLI upload MERGEs
        into the existing graph (Neo4j `MERGE` on name / edge identity,
        kg_builder.py via neo4j_store.py:68-169) rather than replacing
        it. Returns {table: snapshot_id}.

        Shape: the map stages (S1-S4 + inverted index) process ONLY the
        delta pages and commit append-mode snapshots; the merge stages
        (S5-S7: linking, CC canonicalization, node dedup, edge
        materialize) rebuild from the ACCUMULATED extraction deltas —
        extraction output is orders of magnitude smaller than pages, so
        appending to a 100 TB corpus costs O(delta) page scan plus
        O(accumulated mentions) aggregation, never a re-read of old
        pages. Re-uploaded urls are dropped by an anti-join against the
        accumulated url set (exactly-once per url, the engine's page
        identity invariant), so the result is bit-equivalent to one
        batch run over the deduplicated union corpus (pytest
        test_append_equals_batch_union).

        Resume: every stage keys on its input snapshot ids exactly like
        run(); re-running an already-committed delta skips everything.
        Pass pages_delta=None to map-and-merge pages snapshots that
        were committed directly (e.g. by the streaming warehouse sink)
        without going through the map stages yet.
        """
        snaps: dict[str, str] = {}
        log = _StageLog(self.io, spark, run_id)

        if pages_delta is not None:
            pages_key = f"delta:{delta_id}"
            existing = self.io.find_snapshot("pages", pages_key)
            if existing is not None:
                snaps["pages"] = existing
                log.skipped.append("pages")
            else:
                try:
                    seen = (
                        self.io.read_accumulated(spark, "pages")
                        .select("url")
                        .distinct()
                    )
                    fresh = pages_delta.join(seen, "url", "left_anti")
                except FileNotFoundError:
                    fresh = pages_delta
                if fresh.isEmpty():
                    # every url already ingested: a true no-op. Do NOT
                    # commit — an empty snapshot would cascade empty
                    # append snapshots through all five map stages and
                    # change the merge acc_key, forcing a full
                    # merge-stage rebuild for nothing.
                    log.skipped.append("pages")
                else:
                    snaps["pages"] = self.io.commit(
                        "pages", fresh, pages_key,
                        metadata={"mode": "append"},
                    )

        # each map stage processes every accumulated upstream snapshot
        # it has not consumed yet (consumption is recorded in commit
        # input keys) — this covers both the delta committed above AND
        # snapshots appended by other writers (streaming sink, prior
        # partial runs)
        for table, inputs in self.DELTA_STAGES:
            upstream = inputs[0]
            pending = self._unconsumed(table, upstream)
            if not pending:
                log.skipped.append(table)
                continue
            input_key = ",".join(f"{upstream}:{p['id']}" for p in pending)
            paths = [p["path"] for p in pending]
            snaps[table] = log.stage(
                table, input_key,
                lambda: build_stage(
                    table, lambda _: spark.read.parquet(*paths), **self.params
                ),
                metadata={"mode": "append"},
            )

        # merge stages: rebuilt (full commits) over the union of every
        # extraction delta; keyed on that set of snapshot ids so an
        # unchanged accumulation resumes and a new delta recomputes
        try:
            acc_key = "acc:" + ",".join(
                s["id"] for s in self.io.accumulated_snapshots("extracted")
            )
        except FileNotFoundError:
            # nothing has ever been extracted (e.g. an all-duplicate or
            # empty first delta): no merge to run
            self.last_skipped = log.skipped
            return snaps

        def read(t: str) -> DataFrame:
            if t == "extracted":
                return self.io.read_accumulated(spark, "extracted")
            return self.io.read(spark, t, snaps[t])

        for table, _ in self.MERGE_STAGES:
            snaps[table] = log.stage(
                table, acc_key,
                lambda: build_stage(table, read, **self.params),
            )
        log.commit()
        self.last_skipped = log.skipped
        return snaps

    def curate(
        self,
        spark: SparkSession,
        k: int = 50,
        threshold_pct: float = 0.25,
        run_id: str = "c0",
    ) -> str:
        """Optional curation stage over the ingested corpus — the
        training-data product of the engine: exact dedup -> quality
        classifier -> self-calibrated percentile cutoff -> quality-
        weighted deterministic sample (dataops.curate_corpus, each
        step individually oracle-checked; the composition is the
        oracle-green `corpus_curation` driver query). Runs over the
        ACCUMULATED docs table (url as the document key), commits a
        `curated` TableIO snapshot keyed on the docs snapshot set +
        parameters — a re-run resumes, a new append delta or changed
        parameters recompute — and appends per-partition lineage rows
        like every other stage. Returns the snapshot id.
        """
        from .dataops import curate_corpus  # noqa: PLC0415

        doc_ids = ",".join(
            s["id"] for s in self.io.accumulated_snapshots("docs")
        )
        input_key = f"docs:{doc_ids}:k={k}:pct={threshold_pct}"

        def build() -> DataFrame:
            docs = self.io.read_accumulated(spark, "docs").select(
                F.col("url").alias("doc_id"), "text"
            )
            return curate_corpus(docs, k=k, threshold_pct=threshold_pct)

        log = _StageLog(self.io, spark, run_id)
        snap = log.stage(
            "curated", input_key, build,
            metadata={"k": k, "threshold_pct": threshold_pct},
        )
        log.commit()
        self.last_skipped = log.skipped
        return snap

    def lineage(self, spark: SparkSession) -> DataFrame:
        """The cumulative per-partition lineage log across every run:
        union of all `_lineage` snapshots (each run appends a delta)."""
        return self.io.read_all(spark, "_lineage")
