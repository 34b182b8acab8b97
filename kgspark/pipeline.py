"""Pipeline orchestration: S1..S7 as a linear DAG of stage jobs.

Two modes:

  * `build_kg_frames(spark, pages)` — in-memory: returns every stage as
    a DataFrame (lazy; single-action consumers like tests/queries decide
    what to materialize). No writes.

  * `Pipeline(warehouse).run(spark, pages, corpus_id)` — checkpointed:
    each stage commits a TableIO snapshot keyed on its input snapshot id
    and appends per-partition lineage rows (stage, partition_id, n_rows,
    n_urls, duration_ms, run_id) — the north rule's resumable-with-
    lineage contract. A re-run with the same corpus_id skips every stage
    whose (table, input_snapshot) pair is already committed.

Lineage is data, not plan: each stage's per-partition counts are
collected to the driver right after its commit and the run commits
them once from a local Arrow frame. Stage names, run ids and durations
therefore never become plan literals, and a second run in the same
session reuses every generated class of the first (Spark inlines long
literals into generated code, so a per-run `duration_ms` literal would
make each run compile its lineage plans anew).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from . import cc, linking, stages
from .io import TableIO, local_frame
from .query import build_inverted_index

LINEAGE_DDL = (
    "stage string, partition_id int, run_id string, n_rows long, "
    "n_urls long, duration_ms long, input_snapshot string"
)


def build_kg_frames(
    spark: SparkSession,
    pages: DataFrame,
    link_mode: str = "exact",
    salt: int = 0,
    chunk_size: int = 500,
    chunk_overlap: int = 100,
    embed_dim: int = 64,
    cache: bool = True,
) -> dict[str, DataFrame]:
    """Full S1→S7 DAG, in memory. `extracted` is cached (when requested)
    because mentions/edges/linking all branch from it — one extractor
    pass, many consumers.

    With cache=True the stage caches are materialized eagerly IN STAGE
    ORDER: every downstream branch (CC, node dedup, edge materialize)
    then reuses the cached stage instead of re-deriving the Python UDF
    chain — without this, kg_edges' plan re-runs dedup_nodes and the
    extractor because it captures the pre-persist DataFrames."""
    docs = stages.extract_text(pages)
    chunks = stages.chunk(docs, chunk_size, chunk_overlap)
    if cache:
        chunks = chunks.persist()
        # full-column scan: count() can serve from cache stats without
        # populating all column batches
        chunks.select(F.sum(F.length("text"))).collect()
    embeddings = stages.embed(chunks, embed_dim)
    extracted = stages.extract(chunks)
    if cache:
        extracted = extracted.persist()
        extracted.select(F.count("name")).collect()
    mentions = stages.mentions_of(extracted)
    raw_edges = stages.raw_edges_of(extracted)
    sim_edges = linking.similarity_edges(mentions, mode=link_mode)
    names = mentions.select("name").distinct()
    canonical = cc.connected_components(names, sim_edges)
    if cache:
        canonical = canonical.persist()
    # exact linking => canonical_id == name by construction (cc.py:51-52),
    # so the canonical-map joins are identity and elided algebraically.
    # The lsh path keeps them (and their skew handling).
    cmap = canonical if link_mode != "exact" else None
    kg_nodes = stages.dedup_nodes(mentions, cmap)
    if cache:
        kg_nodes = kg_nodes.persist()
        kg_nodes.count()
    kg_edges = stages.materialize_edges(raw_edges, kg_nodes, cmap, salt=salt)
    return {
        "docs": docs,
        "chunks": chunks,
        "embeddings": embeddings,
        "inverted_index": build_inverted_index(chunks),
        "extracted": extracted,
        "mentions": mentions,
        "raw_edges": raw_edges,
        "sim_edges": sim_edges,
        "canonical": canonical,
        "kg_nodes": kg_nodes,
        "kg_edges": kg_edges,
    }


class _StageLog:
    """One run's stage commits: the resume check, the timed build +
    commit, and the per-partition lineage rows, committed once at the
    end as this run's `_lineage` delta."""

    def __init__(self, io: TableIO, spark: SparkSession, run_id: str):
        self.io = io
        self.spark = spark
        self.run_id = run_id
        self.rows: list[tuple] = []
        self.skipped: list[str] = []

    def stage(self, table: str, input_key: str, build,
              metadata: dict | None = None) -> str:
        """The snapshot of `table` for `input_key`: an existing one
        (resumed), else `build()` committed, timed, and counted per
        partition of the committed snapshot (spark_partition_id())."""
        existing = self.io.find_snapshot(table, input_key)
        if existing is not None:
            self.skipped.append(table)
            return existing
        t0 = time.monotonic()
        snap = self.io.commit(table, build(), input_key, metadata=metadata)
        dur_ms = int((time.monotonic() - t0) * 1000)
        df = self.io.read(self.spark, table, snap)
        has_url = "url" in df.columns
        counts = [F.count(F.lit(1))]
        if has_url:
            counts.append(F.countDistinct("url"))
        for r in df.groupBy(F.spark_partition_id()).agg(*counts).collect():
            self.rows.append((
                table, r[0], self.run_id, r[1], r[2] if has_url else -1,
                dur_ms, input_key,
            ))
        return snap

    def commit(self) -> None:
        """Append-only: commit ONLY this run's delta. Earlier runs' rows
        stay in their own snapshots — readers use Pipeline.lineage(),
        which unions all snapshots — so commit I/O is O(this run), not
        O(all history)."""
        if self.rows:
            schema = StructType.fromDDL(LINEAGE_DDL)
            self.io.commit(
                "_lineage", local_frame(self.spark, self.rows, schema),
                self.run_id,
            )


class Pipeline:
    """Checkpointed, resumable stage driver over a TableIO warehouse."""

    STAGES = [
        # (table, builder input tables)
        ("docs", ["pages"]),
        ("chunks", ["docs"]),
        ("embeddings", ["chunks"]),
        ("inverted_index", ["chunks"]),
        ("extracted", ["chunks"]),
        ("canonical", ["extracted"]),
        ("kg_nodes", ["extracted", "canonical"]),
        ("kg_edges", ["extracted", "kg_nodes", "canonical"]),
    ]

    def __init__(
        self,
        warehouse: str,
        link_mode: str = "exact",
        salt: int = 0,
        chunk_size: int = 500,
        chunk_overlap: int = 100,
        embed_dim: int = 64,
    ):
        self.io = TableIO(warehouse)
        self.link_mode = link_mode
        self.salt = salt
        self.chunk_size = chunk_size
        self.chunk_overlap = chunk_overlap
        self.embed_dim = embed_dim

    # stage builders -------------------------------------------------------
    def _map_stage_builder(self, table):
        """Per-page map stages as upstream-DataFrame -> DataFrame fns
        (shared by the batch and incremental paths)."""
        if table == "docs":
            return stages.extract_text
        if table == "chunks":
            return lambda docs: stages.chunk(
                docs, self.chunk_size, self.chunk_overlap
            )
        if table == "embeddings":
            return lambda chunks: stages.embed(chunks, self.embed_dim)
        if table == "inverted_index":
            return build_inverted_index
        if table == "extracted":
            return stages.extract
        raise KeyError(table)

    def _build(self, spark: SparkSession, table: str) -> DataFrame:
        rd = lambda t: self.io.read(spark, t)  # noqa: E731
        if table in ("docs", "chunks", "embeddings", "inverted_index",
                     "extracted"):
            upstream = dict(self.STAGES)[table][0]
            return self._map_stage_builder(table)(rd(upstream))
        if table == "canonical":
            mentions = stages.mentions_of(rd("extracted"))
            sim = linking.similarity_edges(mentions, mode=self.link_mode)
            return cc.connected_components(
                mentions.select("name").distinct(), sim
            )
        if table == "kg_nodes":
            return stages.dedup_nodes(
                stages.mentions_of(rd("extracted")), rd("canonical")
            )
        if table == "kg_edges":
            return stages.materialize_edges(
                stages.raw_edges_of(rd("extracted")),
                rd("kg_nodes"),
                rd("canonical"),
                salt=self.salt,
            )
        raise KeyError(table)

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

        for table, inputs in self.STAGES:
            input_key = ",".join(f"{t}:{snaps[t]}" for t in inputs)
            snaps[table] = log.stage(
                table, input_key, lambda: self._build(spark, table)
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
            snaps[table] = log.stage(
                table, input_key,
                lambda: self._map_stage_builder(table)(
                    spark.read.parquet(*[p["path"] for p in pending])
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
        extracted_all = self.io.read_accumulated(spark, "extracted")
        mentions = stages.mentions_of(extracted_all)
        merge_builders = {
            "canonical": lambda: cc.connected_components(
                mentions.select("name").distinct(),
                linking.similarity_edges(mentions, mode=self.link_mode),
            ),
            "kg_nodes": lambda: stages.dedup_nodes(
                mentions, self.io.read(spark, "canonical")
            ),
            "kg_edges": lambda: stages.materialize_edges(
                stages.raw_edges_of(extracted_all),
                self.io.read(spark, "kg_nodes"),
                self.io.read(spark, "canonical"),
                salt=self.salt,
            ),
        }
        for table, _ in self.MERGE_STAGES:
            snaps[table] = log.stage(table, acc_key, merge_builders[table])
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
