"""Structured Streaming ingest for the KG pipeline.

The reference is strictly batch (SURVEY.md §2.2 — no streaming
abstractions anywhere in `/root/reference`); this module is the
engine's continuous-ingest extension: Common-Crawl-style pages arrive
as files in a landing directory, and the stateless S1→S4 stages
(extract_text, chunk, embed, extract — all Arrow-batched maps with no
shuffle) lift onto streaming DataFrames unchanged.

Design split (lambda-style, the idiomatic Spark answer for iterative
graph algorithms over streams):

  * streaming path (this module): pages → raw triples / mentions,
    append-mode, exactly-once into a parquet sink via checkpointed
    file-source offsets. Zero stateful operators in the hot path, so
    throughput scales with input files.
  * batch path: canonicalization (connected components) and the final
    dedup/materialize run periodically over the accumulated raw tables
    via `pipeline.Pipeline` — CC is iterative and global, which
    Structured Streaming cannot express incrementally; recomputing it
    over snapshots is both simpler and deterministic.

Stateful operators are still covered where streaming-native semantics
exist: watermarked url-dedup (`dedup_pages_stream`) and watermarked
windowed ingest stats (`windowed_lang_counts`) handle late/duplicate
WARC records.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import stages
from .fixtures import PAGES_DDL


def stream_pages(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of pages parquet dropped into `landing_dir`.
    Offsets live in the sink's checkpoint dir → exactly-once replay."""
    reader = spark.readStream.schema(PAGES_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(landing_dir)


def stream_triples(pages_stream: DataFrame) -> DataFrame:
    """pages stream → raw (subj, pred, obj) triples with provenance.
    Stateless composition of S1, S2, S4 — valid in append mode with no
    watermark because no aggregation/join state is kept."""
    docs = stages.extract_text(pages_stream)
    chunks = stages.chunk(docs)
    extracted = stages.extract(chunks)
    return stages.raw_edges_of(extracted).select(
        F.col("source").alias("subj"),
        F.col("type").alias("pred"),
        F.col("target").alias("obj"),
        "url", "chunk_id", "chunk_index", "properties",
    )


def dedup_pages_stream(
    pages_stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming url-dedup: keep the first arrival of each url within
    the watermark horizon — a re-crawl of the same url with a LATER
    capture timestamp is dropped too (key = url only, not (url, ts)),
    via dropDuplicatesWithinWatermark. State is bounded by the
    watermark — url keys are evicted once warc_ts passes the horizon,
    so memory does not grow with the corpus (a 10^12-row corpus would
    otherwise OOM the state store)."""
    return pages_stream.withWatermark(
        "warc_ts", watermark
    ).dropDuplicatesWithinWatermark(["url"])


def windowed_lang_counts(
    pages_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window ingest stats per language — the
    late-data-tolerant metrics feed. Rows later than the watermark are
    dropped; windows finalize (and can be emitted in append mode) once
    the watermark passes their end."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), "lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.length("text")).alias("n_chars"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "lang", "n_pages", "n_chars",
        )
    )


def session_crawl_bursts(
    pages_stream: DataFrame,
    gap: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked SESSION windows per source host: group a host's
    pages into crawl bursts separated by >= `gap` of event-time
    silence (`F.session_window` — the data-driven window the tumbling
    variant cannot express; sessions merge as late rows arrive and
    finalize when the watermark passes gap beyond the last event).
    The streaming twin of the batch `dataops.sessionize`
    gaps-and-islands op — same semantics, state bounded by
    watermark x active hosts.

    Emits one row per finalized burst: host (url authority), burst
    bounds, page/char counts.
    """
    host = F.parse_url(F.col("url"), F.lit("HOST")).alias("host")
    return (
        pages_stream.select(host, "warc_ts", F.length("text").alias("n"))
        .withWatermark("warc_ts", watermark)
        .groupBy(F.session_window("warc_ts", gap).alias("win"), "host")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum("n").alias("n_chars"),
        )
        .select(
            "host",
            F.col("win.start").alias("burst_start"),
            F.col("win.end").alias("burst_end"),
            "n_pages",
            "n_chars",
        )
    )


SOURCE_STATS_DDL = (
    "source string, n_pages long, n_chars long, first_ts timestamp, "
    "last_ts timestamp"
)
_STATE_DDL = "n_pages long, n_chars long, first_ts timestamp, last_ts timestamp"


def source_stats_stream(
    pages_stream: DataFrame, timeout_ms: int = 0
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: cumulative
    per-source ingest stats (page count, char volume, first/last
    capture ts) maintained across micro-batches — the canonical
    arbitrary-state shape the built-in windowed aggs can't express
    (running totals over the whole stream, emitted every batch).

    Keyed by the url's source segment; state is one tiny tuple per
    source, so the state store stays O(#sources) regardless of corpus
    size. Output mode: update (one refreshed row per touched source
    per batch)."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupState  # noqa: PLC0415

    def update(key, pdfs, state: GroupState):
        n_pages, n_chars, first_ts, last_ts = (
            state.get if state.exists else (0, 0, None, None)
        )
        for pdf in pdfs:
            n_pages += len(pdf)
            n_chars += int(pdf["text"].str.len().sum())
            ts_min = pdf["warc_ts"].min()
            ts_max = pdf["warc_ts"].max()
            first_ts = ts_min if first_ts is None else min(first_ts, ts_min)
            last_ts = ts_max if last_ts is None else max(last_ts, ts_max)
        state.update((n_pages, n_chars, first_ts, last_ts))
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "n_pages": [n_pages],
                "n_chars": [n_chars],
                "first_ts": [first_ts],
                "last_ts": [last_ts],
            }
        )

    keyed = pages_stream.withColumn(
        "source", F.element_at(F.split(F.col("url"), "/"), -3)
    )
    return keyed.groupBy("source").applyInPandasWithState(
        update,
        outputStructType=SOURCE_STATS_DDL,
        stateStructType=_STATE_DDL,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def run_to_parquet(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    output_mode: str = "append",
):
    """Drain a stream into a parquet sink (exactly-once via the
    checkpointed offsets). availableNow=True processes the current
    backlog and stops — the batch-drain mode used by tests and by
    catch-up runs after downtime."""
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
    )
    trigger = {"availableNow": True} if available_now else {
        "processingTime": "10 seconds"
    }
    query = writer.trigger(**trigger).start()
    if available_now:
        query.awaitTermination()
    return query


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
):
    """Drain the current backlog into an in-memory table (tests only)."""
    query = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def stream_pages_to_warehouse(
    spark: SparkSession,
    landing_dir: str,
    io,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> list[str]:
    """Streaming ingest INTO the snapshot warehouse: each micro-batch
    of landing pages commits one append-mode TableIO snapshot keyed on
    its batch id — the foreachBatch + idempotent-commit pattern that
    gives exactly-once table appends on top of at-least-once batch
    replay (Iceberg analog: streaming write with commit dedup by
    checkpointed batch id; Structured Streaming replays a batch after
    a crash, `find_snapshot` sees the batch key already committed and
    skips). The periodic `Pipeline.run_append` merge then folds the
    accumulated pages into the graph.

    Runs with availableNow (drain the backlog, then stop); returns the
    committed snapshot ids in batch order.
    """
    committed: list[str] = []
    # batch ids are scoped to a checkpoint: key on BOTH so a different
    # stream (fresh checkpoint, different landing dir) can never
    # collide with an old stream's batch 0 and silently drop data
    stream_id = os.path.abspath(checkpoint_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        key = f"stream-batch:{stream_id}:{batch_id}"
        existing = io.find_snapshot("pages", key)
        if existing is not None:       # replayed batch: already durable
            committed.append(existing)
            return
        committed.append(
            io.commit("pages", batch_df, key, metadata={"mode": "append"})
        )

    q = (
        stream_pages(spark, landing_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"stream_pages_to_warehouse did not drain the backlog within "
            f"{timeout_sec}s; committed {len(committed)} batches before "
            "stopping — re-run to resume from the checkpoint"
        )
    return committed


ANNOTATIONS_DDL = "url string, ann_ts timestamp, quality double"


def stream_annotations(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of per-url annotation records (e.g. an
    asynchronous quality-classifier's output landing separately from
    the crawl itself)."""
    reader = spark.readStream.schema(ANNOTATIONS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(landing_dir)


def join_pages_with_annotations(
    pages_stream: DataFrame,
    ann_stream: DataFrame,
    watermark: str = "10 minutes",
    join_bound: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join: each crawled page matched with the
    annotation records that arrive for its url within `join_bound` of
    the crawl time — the two-live-streams shape (crawler + async
    classifier) that a static-side join can't express.

    Both sides are watermarked and the join carries an explicit event-
    time bound (`ann_ts` in [warc_ts, warc_ts + join_bound]); that
    pair is what lets Spark EVICT join state — without it, stream-
    stream join state grows forever, the canonical unbounded-state
    mistake at scale. State per key is bounded by watermark +
    join_bound regardless of stream length.

    Output: (url, warc_ts, ann_ts, lang, quality), append-mode."""
    p = pages_stream.select("url", "warc_ts", "lang").withWatermark(
        "warc_ts", watermark
    )
    a = ann_stream.withColumnRenamed("url", "ann_url").withWatermark(
        "ann_ts", watermark
    )
    cond = F.expr(
        "url = ann_url AND "
        f"ann_ts >= warc_ts AND ann_ts <= warc_ts + interval {join_bound}"
    )
    return p.join(a, cond, "inner").select(
        "url", "warc_ts", "ann_ts", "lang", "quality"
    )
