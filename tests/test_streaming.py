"""Structured Streaming ingest: streaming S1→S4 output must equal the
batch pipeline on the same pages; watermarked dedup and windowed
stats; exactly-once resume across restarts via checkpointed offsets."""

import datetime as dt
import glob
import os

import pytest
from pyspark.sql import functions as F

from kgspark import stages, streaming
from kgspark.fixtures import PAGES_DDL, pages_df


@pytest.fixture(scope="module")
def landing(tmp_path_factory, spark):
    """Two parquet files of 20 pages each in a landing dir."""
    d = str(tmp_path_factory.mktemp("landing"))
    pages_df(spark, 20).coalesce(1).write.mode("append").parquet(d)
    pages = pages_df(spark, 40).filter(F.col("url").isNotNull())
    second = pages.join(
        pages_df(spark, 20).select("url"), "url", "left_anti"
    )
    second.coalesce(1).write.mode("append").parquet(d)
    return d


def test_stream_triples_match_batch(spark, landing, tmp_path):
    stream = streaming.stream_pages(spark, landing)
    assert stream.isStreaming
    out = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")
    streaming.run_to_parquet(streaming.stream_triples(stream), out, ckpt)

    got = spark.read.parquet(out)
    batch_pages = spark.read.parquet(landing)
    expect = stages.raw_edges_of(
        stages.extract(stages.chunk(stages.extract_text(batch_pages)))
    ).select(
        F.col("source").alias("subj"), F.col("type").alias("pred"),
        F.col("target").alias("obj"), "url", "chunk_id",
    )
    g = sorted(map(tuple, got.select("subj", "pred", "obj", "url", "chunk_id").collect()))
    e = sorted(map(tuple, expect.collect()))
    assert g == e
    assert len(g) > 0


def test_stream_resume_exactly_once(spark, landing, tmp_path):
    out = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")
    # first drain: only the backlog present now
    streaming.run_to_parquet(
        streaming.stream_triples(
            streaming.stream_pages(spark, landing, max_files_per_trigger=1)
        ),
        out, ckpt,
    )
    n1 = spark.read.parquet(out).count()
    # restart with the same checkpoint and no new files: no duplicates
    streaming.run_to_parquet(
        streaming.stream_triples(streaming.stream_pages(spark, landing)),
        out, ckpt,
    )
    n2 = spark.read.parquet(out).count()
    assert n1 == n2
    # drop a new file, restart again: only its triples are appended
    extra_dir = str(tmp_path / "extra")
    pages = pages_df(spark, 45).join(
        spark.read.parquet(landing).select("url"), "url", "left_anti"
    )
    pages.coalesce(1).write.mode("overwrite").parquet(extra_dir)
    for f in glob.glob(os.path.join(extra_dir, "*.parquet")):
        os.rename(f, os.path.join(landing, "extra_" + os.path.basename(f)))
    streaming.run_to_parquet(
        streaming.stream_triples(streaming.stream_pages(spark, landing)),
        out, ckpt,
    )
    n3 = spark.read.parquet(out).count()
    assert n3 > n2
    urls = {r["url"] for r in spark.read.parquet(out).select("url").distinct().collect()}
    assert len(urls) == len({r["url"] for r in spark.read.parquet(landing).select("url").distinct().collect()})


def _ts(minute: int):
    return dt.datetime(2026, 1, 1, 10, minute)


def test_windowed_lang_counts_with_late_data(spark, tmp_path):
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    rows1 = [
        (f"u{i}", _ts(i), None, f"text {i}", "en") for i in (0, 5, 12, 40)
    ]
    # late row: ts 10:02 arrives AFTER watermark advanced to 10:40-30m=10:10
    rows2 = [("late", _ts(2), None, "late text", "en"),
             ("ok", _ts(41), None, "ok text", "de")]
    spark.createDataFrame(rows1, PAGES_DDL).coalesce(1).write.mode(
        "append"
    ).parquet(landing)

    stream = streaming.stream_pages(spark, landing, max_files_per_trigger=1)
    agg = streaming.windowed_lang_counts(
        stream, window="10 minutes", watermark="30 minutes"
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    streaming.run_to_parquet(agg, out, ckpt)  # drain file 1, advance watermark

    spark.createDataFrame(rows2, PAGES_DDL).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    streaming.run_to_parquet(agg, out, ckpt)  # drain file 2
    # close all windows: one more file far in the future
    spark.createDataFrame(
        [("end", _ts(59) + dt.timedelta(hours=3), None, "end", "en")], PAGES_DDL
    ).coalesce(1).write.mode("append").parquet(landing)
    streaming.run_to_parquet(agg, out, ckpt)

    got = {
        (r["window_start"].minute, r["lang"]): r["n_pages"]
        for r in spark.read.parquet(out).collect()
    }
    assert got[(0, "en")] == 2          # u0 + u5; "late" (10:02) dropped
    assert got[(10, "en")] == 1         # u12
    assert got[(40, "en")] == 1         # u40
    assert got[(40, "de")] == 1         # ok (10:41) accepted
    assert (0, "de") not in got


def test_dedup_pages_stream(spark, tmp_path):
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    ts = _ts(0)
    rows = [("u1", ts, None, "a", "en"), ("u1", ts, None, "a", "en"),
            ("u2", ts, None, "b", "en")]
    spark.createDataFrame(rows, PAGES_DDL).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    stream = streaming.stream_pages(spark, landing)
    deduped = streaming.dedup_pages_stream(stream)
    out = str(tmp_path / "out")
    streaming.run_to_parquet(deduped, out, str(tmp_path / "ckpt"))
    urls = sorted(r["url"] for r in spark.read.parquet(out).collect())
    assert urls == ["u1", "u2"]


def test_dedup_pages_stream_recrawl_different_ts(spark, tmp_path):
    """A re-crawl of the same url with a DIFFERENT capture timestamp
    (within the watermark horizon) must also be dropped — dedup keys on
    url alone, not (url, warc_ts)."""
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    rows = [("u1", _ts(0), None, "a", "en"),
            ("u1", _ts(5), None, "a2", "en"),   # re-crawl, 5 min later
            ("u2", _ts(1), None, "b", "en")]
    spark.createDataFrame(rows, PAGES_DDL).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    stream = streaming.stream_pages(spark, landing)
    deduped = streaming.dedup_pages_stream(stream)
    out = str(tmp_path / "out")
    streaming.run_to_parquet(deduped, out, str(tmp_path / "ckpt"))
    urls = sorted(r["url"] for r in spark.read.parquet(out).collect())
    assert urls == ["u1", "u2"]


def test_source_stats_stateful_across_batches(spark, tmp_path):
    """applyInPandasWithState: cumulative per-source stats must carry
    state across micro-batches (file 2 adds to file 1's totals)."""
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    # docs 0-19 then 20-39: both ranges cover all 20 sources, so every
    # source receives rows in BOTH micro-batches (state must carry over)
    p1 = pages_df(spark, 20)
    p1.coalesce(1).write.mode("append").parquet(landing)
    p2 = pages_df(spark, 40).join(p1.select("url"), "url", "left_anti")
    p2.coalesce(1).write.mode("append").parquet(landing)

    stream = streaming.stream_pages(spark, landing, max_files_per_trigger=1)
    q = streaming.run_to_memory(
        streaming.source_stats_stream(stream), "srcstats", output_mode="update"
    )
    rows = spark.sql("select * from srcstats").collect()
    # memory sink in update mode appends one row per (source, batch);
    # the LAST row per source carries the cumulative totals
    last = {}
    for r in rows:
        last[r["source"]] = r  # arrival order == batch order per source

    batch = (
        spark.read.parquet(landing)
        .withColumn("source", F.element_at(F.split(F.col("url"), "/"), -3))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.length("text")).alias("n_chars"),
            F.min("warc_ts").alias("first_ts"),
            F.max("warc_ts").alias("last_ts"),
        )
    ).collect()
    expect = {r["source"]: r for r in batch}
    assert set(last) == set(expect)
    for s, e in expect.items():
        g = last[s]
        assert (g["n_pages"], g["n_chars"]) == (e["n_pages"], e["n_chars"]), s
        assert g["first_ts"] == e["first_ts"] and g["last_ts"] == e["last_ts"]
    # state actually crossed batches: at least one source appears twice
    from collections import Counter

    counts = Counter(r["source"] for r in rows)
    assert max(counts.values()) >= 2


def test_stream_to_warehouse_exactly_once(spark, landing, tmp_path):
    """foreachBatch + idempotent batch-keyed commits: streamed pages
    land as append-mode snapshots, replays do not double-commit, and
    the accumulated table equals the landing contents; a follow-up
    Pipeline.run_append merges them into the graph."""
    from kgspark.io import TableIO
    from kgspark.pipeline import Pipeline

    wh = str(tmp_path / "stream_wh")
    io = TableIO(wh)
    snaps = streaming.stream_pages_to_warehouse(
        spark, landing, io, str(tmp_path / "ckpt_wh")
    )
    assert len(snaps) >= 1
    acc = io.read_accumulated(spark, "pages")
    batch_pages = spark.read.parquet(landing)
    assert acc.count() == batch_pages.count()
    assert acc.select("url").subtract(batch_pages.select("url")).count() == 0

    # simulate a replayed micro-batch: same batch id must not re-commit
    n_before = len(io._load_manifest("pages")["snapshots"])
    replay = streaming.stream_pages_to_warehouse(
        spark, landing, io, str(tmp_path / "ckpt_wh")
    )
    # availableNow with the same checkpoint sees no new files -> no
    # commits; manifest unchanged
    assert len(io._load_manifest("pages")["snapshots"]) == n_before

    # the merge run folds the streamed pages into the graph:
    # pages_delta=None maps every pages snapshot not yet consumed by
    # the docs stage (i.e. the streamed batches), then rebuilds the
    # merge stages
    pipe = Pipeline(wh)
    pipe.run_append(spark, None, "post-stream-merge")
    triples = pipe.io.read(spark, "kg_edges")
    assert triples.count() > 0


def test_stream_stream_join_matches_batch(spark, landing, tmp_path):
    """Stream-stream inner join (pages x annotations, watermarked,
    event-time-bounded) must emit exactly what the equivalent batch
    join computes on the same inputs."""
    ann_dir = str(tmp_path / "ann_landing")
    pages = spark.read.parquet(landing)
    # annotations: one inside the 30-min bound per url, one outside,
    # and one for an unknown url
    anns = pages.select(
        "url",
        (F.col("warc_ts") + F.expr("interval 5 minutes")).alias("ann_ts"),
        F.lit(0.9).alias("quality"),
    ).unionByName(
        pages.limit(5).select(
            "url",
            (F.col("warc_ts") + F.expr("interval 2 hours")).alias("ann_ts"),
            F.lit(0.1).alias("quality"),
        )
    ).unionByName(
        spark.createDataFrame(
            [("http://nowhere.example/none", dt.datetime(2024, 1, 1), 0.5)],
            streaming.ANNOTATIONS_DDL,
        )
    )
    anns.coalesce(1).write.parquet(ann_dir)

    out = str(tmp_path / "joined")
    ckpt = str(tmp_path / "ckpt")
    joined = streaming.join_pages_with_annotations(
        streaming.stream_pages(spark, landing),
        streaming.stream_annotations(spark, ann_dir),
    )
    streaming.run_to_parquet(joined, out, ckpt)
    got = sorted(
        map(tuple, spark.read.parquet(out)
            .select("url", "ann_ts", "quality").collect())
    )

    batch_anns = spark.read.parquet(ann_dir)
    expect = sorted(
        map(
            tuple,
            pages.alias("p")
            .join(
                batch_anns.alias("a"),
                F.expr(
                    "p.url = a.url AND a.ann_ts >= p.warc_ts "
                    "AND a.ann_ts <= p.warc_ts + interval 30 minutes"
                ),
            )
            .select("p.url", "a.ann_ts", "a.quality")
            .collect(),
        )
    )
    assert got == expect
    assert len(got) == pages.count()  # in-bound ann per url; late ones dropped


def test_session_crawl_bursts_gap_semantics(spark, tmp_path):
    """Session windows merge rows within the gap and split across it;
    streaming (finalized-by-watermark) result equals the batch run of
    the SAME session_window aggregation."""
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    rows = [
        # host a: burst 1 = minutes 0,3,6 ; burst 2 = minutes 30,31
        ("https://a.example.com/1", _ts(0), None, "xx", "en"),
        ("https://a.example.com/2", _ts(3), None, "yyy", "en"),
        ("https://a.example.com/3", _ts(6), None, "z", "en"),
        ("https://a.example.com/4", _ts(30), None, "w", "en"),
        ("https://a.example.com/5", _ts(31), None, "v", "en"),
        # host b: single burst
        ("https://b.example.com/1", _ts(5), None, "bb", "en"),
    ]
    spark.createDataFrame(rows, PAGES_DDL).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    # sentinel far in the future closes every session
    spark.createDataFrame(
        [("https://zz.end/1", _ts(0) + dt.timedelta(hours=6), None, "e",
          "en")],
        PAGES_DDL,
    ).coalesce(1).write.mode("append").parquet(landing)

    agg = streaming.session_crawl_bursts(
        streaming.stream_pages(spark, landing, max_files_per_trigger=1),
        gap="10 minutes",
        watermark="30 minutes",
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    streaming.run_to_parquet(agg, out, ckpt)
    got = {
        (r["host"], r["burst_start"].minute): r["n_pages"]
        for r in spark.read.parquet(out).collect()
        if r["host"] != "zz.end"
    }
    assert got == {
        ("a.example.com", 0): 3,
        ("a.example.com", 30): 2,
        ("b.example.com", 5): 1,
    }
    # batch equality: same aggregation over the same files (minus the
    # never-finalized sentinel session)
    batch = {
        (r["host"], r["burst_start"].minute): r["n_pages"]
        for r in streaming.session_crawl_bursts(
            spark.read.parquet(landing)
        ).collect()
        if r["host"] != "zz.end"
    }
    assert batch == got
    # n_chars carried through: burst 1 of host a = 2+3+1 chars
    chars = {
        (r["host"], r["burst_start"].minute): r["n_chars"]
        for r in spark.read.parquet(out).collect()
    }
    assert chars[("a.example.com", 0)] == 6
