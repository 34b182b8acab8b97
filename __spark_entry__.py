"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)      — flagship query on /root/testdata/sf0.001.
queries()         — one entry per implemented operator (SURVEY.md §2).
oracle_sql()      — DuckDB-equivalent ANSI SQL for every SQL-expressible
                    query (same column names; computed columns aliased
                    identically on both sides). Non-SQL-expressible ops
                    (chunker / rule-extractor UDF
                    stages) have no oracle entry -> rows-only check,
                    covered instead by the pytest oracle suite
                    (tests/test_pipeline_e2e.py, P/R vs kgspark.oracle).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

KG_PAGES_CAP = 500  # pages synthesized for KG pipeline queries

_TMP_ROOT: list[str] = []  # lazily-created, removed at process exit


def _tmp_dir(label: str) -> str:
    """Per-process scratch dir for driver queries that need a warehouse
    / landing dir. One root per process, removed via atexit — repeated
    driver invocations no longer accumulate /tmp/kgspark_* dirs."""
    import atexit
    import shutil
    import tempfile

    if not _TMP_ROOT:
        root = tempfile.mkdtemp(prefix="kgspark_entry_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _TMP_ROOT.append(root)
    path = os.path.join(_TMP_ROOT[0], label)
    os.makedirs(path, exist_ok=True)
    return path


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _on(
    table: str, fn: str, **kwargs
) -> Callable[[SparkSession, str], DataFrame]:
    """Driver query that reads one fixture table and calls one dataops
    operator on it: `kgspark.dataops.<fn>(<table>, **kwargs)`. dataops
    is imported when the query runs, so importing this module imports
    no kgspark module."""

    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        from kgspark import dataops

        return getattr(dataops, fn)(_read(spark, sf_dir, table), **kwargs)

    return query


_KG_FRAMES_CACHE: dict[str, dict] = {}


def _kg_frames(spark: SparkSession, sf_dir: str):
    """Build (or reuse) the S1→S7 frames for a given sf_dir. Memoized
    per (sf_dir): build_kg_frames materializes its shared stage caches
    eagerly, so the 6+ KG driver queries must share ONE build instead of
    re-running the pipeline and stacking persisted blocks per query."""
    from kgspark.fixtures import pages_df
    from kgspark.pipeline import build_kg_frames

    if sf_dir not in _KG_FRAMES_CACHE:
        n = min(_read(spark, sf_dir, "documents").count(), KG_PAGES_CAP)
        _KG_FRAMES_CACHE[sf_dir] = build_kg_frames(
            spark, pages_df(spark, n), link_mode="exact"
        )
    return _KG_FRAMES_CACHE[sf_dir]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full S1→S7 KG pipeline over the seeded synthetic pages
    corpus, then top-10 most-connected canonical entities."""
    from kgspark.query import top_connected_entities

    frames = _kg_frames(spark, "/root/testdata/sf0.001")
    return top_connected_entities(frames["kg_edges"], frames["kg_nodes"], k=10)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_kg_top_connected(spark, sf_dir):
    from kgspark.query import top_connected_entities

    frames = _kg_frames(spark, sf_dir)
    return top_connected_entities(frames["kg_edges"], frames["kg_nodes"], k=10)


def _q_kg_pagerank(spark, sf_dir):
    """Distributed PageRank over the constructed KG (rows-only:
    iterative power iteration isn't SQL; pytest verifies against a
    pure-Python reference to 1e-12 incl. dangling-mass handling).
    SELF-CHECKING (r5 directive 6): every output row carries mass_ok
    (|sum of ALL ranks - 1| < 1e-9 — the invariant damped PageRank
    with dangling redistribution must hold every iteration) and
    conv_delta (max |rank_10 - rank_9| over all nodes, rounded 6), and
    the result is FILTERED on mass_ok — a mass-conservation bug
    empties the result, which the driver's row count catches even on
    a rows-only row. Returns the top-10 entities by rank."""
    from kgspark.cc import pagerank

    frames = _kg_frames(spark, sf_dir)
    edges = frames["kg_edges"].select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    # return_prev carries the penultimate iterate out of the SAME run
    # (one extra equi-join on checkpointed frames) — not a second
    # 9-iteration PageRank job just to read the delta
    pr = pagerank(
        edges, iterations=10, return_prev=True
    ).localCheckpoint(eager=True)
    mass = pr.agg(F.sum("rank").alias("__mass"))
    delta = pr.agg(
        F.max(F.abs(F.col("rank") - F.col("rank_prev"))).alias("__delta")
    )
    return (
        pr.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(10)
        .crossJoin(F.broadcast(mass))
        .crossJoin(F.broadcast(delta))
        .select(
            "node", "rank",
            (F.abs(F.col("__mass") - 1.0) < 1e-9).alias("mass_ok"),
            F.round(F.col("__delta"), 6).alias("conv_delta"),
        )
        .filter(F.col("mass_ok"))
    )


def _q_kg_triples(spark, sf_dir):
    frames = _kg_frames(spark, sf_dir)
    return frames["kg_edges"].select("subj", "pred", "obj").orderBy(
        "subj", "pred", "obj"
    )


def _q_kg_chunk_stats(spark, sf_dir):
    frames = _kg_frames(spark, sf_dir)
    return frames["chunks"].groupBy("url").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.length("text")).alias("n_chars"),
    )


def _q_kg_canonical(spark, sf_dir):
    frames = _kg_frames(spark, sf_dir)
    return frames["canonical"].orderBy("name")


def _q_kg_graphrag(spark, sf_dir):
    """Full GraphRAG retrieval (rows-only: UDF featurizer + iterative
    expansion; component semantics are DuckDB-checked separately via
    hybrid_fusion_topk and pytest)."""
    from kgspark.query import graphrag_search

    frames = _kg_frames(spark, sf_dir)
    out = graphrag_search(
        frames["chunks"], frames["embeddings"], frames["mentions"],
        "court contract agreement", top_k=5,
    )
    return out["hits"].select(
        "chunk_id",
        F.round("vector_score", 6).alias("vector_score"),
        F.round("keyword_score", 6).alias("keyword_score"),
        F.round("combined_score", 6).alias("combined_score"),
    )


def _q_kg_khop(spark, sf_dir):
    """k-hop expansion returning the reference's full surface (rows-
    only: iterative BFS): name + labels + properties + the path's
    rel_types + hops, all scalar columns (neo4j_store.py:372-407
    RETURNs e2, labels(e2), rel_types)."""
    from kgspark.query import related_entities

    frames = _kg_frames(spark, sf_dir)
    return related_entities(
        frames["kg_edges"], "Acme Corp", max_depth=2,
        kg_nodes=frames["kg_nodes"],
    )


def _q_kg_graphrag_entities(spark, sf_dir):
    """The entity half of GraphRAG retrieval with full entity rows
    (rows-only: UDF featurizer upstream): expanded from the fused hit
    chunks, carrying labels / properties / rel_types scalars exactly
    like the reference's get_entities_from_chunks return
    (neo4j_store.py:331-360)."""
    from kgspark.query import graphrag_search

    frames = _kg_frames(spark, sf_dir)
    out = graphrag_search(
        frames["chunks"], frames["embeddings"], frames["mentions"],
        "court contract agreement", top_k=5, kg_nodes=frames["kg_nodes"],
    )
    return out["entities"]


def _q_kg_canonical_lsh(spark, sf_dir):
    """Entity linking in LSH mode (rows-only: xxhash64 MinHash bands):
    char-3-gram MinHash blocking + exact-Jaccard verification feeding
    CC — the north-star linking path with NON-trivial similarity edges,
    driven end-to-end. Returns the full (name, canonical_id) mapping for
    every distinct mention name, ordered by name — merged aliases are
    the rows where canonical_id != name."""
    from kgspark import cc, linking

    frames = _kg_frames(spark, sf_dir)
    mentions = frames["mentions"]
    names = mentions.select("name").distinct()
    edges = linking.similarity_edges(mentions, mode="lsh", threshold=0.5)
    canonical = cc.connected_components(names, edges)
    return canonical.orderBy("name")


def _q_streaming_source_stats(spark, sf_dir):
    """applyInPandasWithState through the driver contract (rows-only:
    streaming + custom state): drain the pages backlog twice so the
    second batch provably accumulates onto the first batch's state."""
    from kgspark import streaming
    from kgspark.fixtures import pages_df

    tmp = _tmp_dir("stream_state_q")
    landing = f"{tmp}/landing"
    if not os.path.exists(f"{landing}/_SUCCESS"):
        pages_df(spark, 120).coalesce(2).write.mode("overwrite").parquet(landing)
    streaming.run_to_memory(
        streaming.source_stats_stream(
            streaming.stream_pages(spark, landing, max_files_per_trigger=1)
        ),
        "q_source_stats", output_mode="update",
    )
    stats = spark.table("q_source_stats")
    # keep only the last emitted row per source (cumulative totals)
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.desc("n_pages"))
    final = (
        stats.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", "n_pages", "n_chars")
    )
    # SELF-CHECKING (r5 directive 6): the accumulated custom state must
    # equal a plain batch aggregate over the same landing dir; filtered
    # on batch_equal so a state-accumulation bug flips the row count.
    batch = (
        spark.read.parquet(landing)
        .withColumn(
            "source", F.element_at(F.split(F.col("url"), "/"), -3)
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("__bn_pages"),
            F.sum(F.length("text")).alias("__bn_chars"),
        )
    )
    return (
        final.join(batch, "source", "full_outer")
        .select(
            "source", "n_pages", "n_chars",
            (
                (
                    F.coalesce(F.col("n_pages"), F.lit(-1))
                    == F.coalesce(F.col("__bn_pages"), F.lit(-2))
                )
                & (
                    F.coalesce(F.col("n_chars"), F.lit(-1))
                    == F.coalesce(F.col("__bn_chars"), F.lit(-2))
                )
            ).alias("batch_equal"),
        )
        .filter(F.col("batch_equal"))
        .orderBy("source")
    )


def _q_dedup_lastwins(spark, sf_dir):
    events = _read(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.max_by("event_type", F.struct("ts", "event_id")).alias("last_event_type"),
        F.count("*").alias("n_events"),
        F.max("value").alias("max_value"),
    )


def _q_endpoint_semi_join(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part").select(F.col("p_partkey").alias("__pk"))
    supp = _read(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("__sk"))
    kept = li.join(
        F.broadcast(part), li["l_partkey"] == part["__pk"], "left_semi"
    ).join(F.broadcast(supp), F.col("l_suppkey") == supp["__sk"], "left_semi")
    return kept.groupBy("l_returnflag").agg(F.count("*").alias("n_rows"))


def _q_khop_join(spark, sf_dir):
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    return (
        supp.join(
            F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"]
        )
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name")
        .agg(F.count("*").alias("n_suppliers"))
    )


def _q_top_customers(spark, sf_dir):
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "c_custkey")
        .limit(10)
    )


def _q_active_inactive_customers(spark, sf_dir):
    """Set operations: customers WITH orders (intersect) and WITHOUT
    (except), tagged and unioned."""
    cust = _read(spark, sf_dir, "customer").select("c_custkey")
    ordered = _read(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    active = cust.intersect(ordered).withColumn("status", F.lit("active"))
    inactive = cust.exceptAll(ordered.distinct()).withColumn(
        "status", F.lit("inactive")
    )
    return active.unionByName(inactive)


def _q_approx_distinct(spark, sf_dir):
    """Approximate ops (rows-only: HLL++ sketch values are
    implementation-defined; pytest bounds the relative error vs exact)."""
    events = _read(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


def _q_top_terms(spark, sf_dir):
    """Corpus-wide term frequency top-50 — the tokenize->explode->agg->
    top-k shape every corpus-stats job uses (map-side partial agg
    absorbs hot terms; TakeOrderedAndProject for the top-k)."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0
                )
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "term")
        .limit(50)
    )


def _q_streaming_lang_windows(spark, sf_dir):
    """Watermarked tumbling-window ingest stats through the driver
    contract (rows-only: streaming). Append mode only emits windows the
    watermark has CLOSED, so a far-future sentinel file (processed last
    via maxFilesPerTrigger=1) advances the watermark past every real
    window — all 200 fixture pages are then deterministically counted;
    the sentinel's own window never closes and is filtered anyway."""
    import datetime as dt

    from kgspark import streaming
    from kgspark.fixtures import PAGES_DDL, pages_df

    tmp = _tmp_dir("stream_window_q")
    landing, out, ckpt = f"{tmp}/landing", f"{tmp}/out", f"{tmp}/ckpt"
    marker = f"{tmp}/sentinel_done"  # outside landing: the file source
    if not os.path.exists(marker):   # would try to read it as parquet
        import glob  # noqa: PLC0415

        pages_df(spark, 200).coalesce(2).write.mode("append").parquet(landing)
        data_files = set(glob.glob(f"{landing}/*.parquet"))
        sentinel_ts = dt.datetime(
            2024, 1, 1, tzinfo=dt.timezone.utc
        ) + dt.timedelta(hours=12)
        spark.createDataFrame(
            [("sentinel", sentinel_ts, None, "end", "sentinel")], PAGES_DDL
        ).coalesce(1).write.mode("append").parquet(landing)
        # the file source orders by modification time; with
        # maxFilesPerTrigger=1 the sentinel MUST be processed last or
        # its far-future event time advances the watermark early and
        # silently drops whole data files in append mode. A same-second
        # mtime tie makes that ordering ambiguous — bump the sentinel
        # file's mtime strictly past every data file's.
        data_mtime = max(os.path.getmtime(f) for f in data_files)
        for f in set(glob.glob(f"{landing}/*.parquet")) - data_files:
            os.utime(f, (data_mtime + 2.0, data_mtime + 2.0))
        open(marker, "w").close()
    streaming.run_to_parquet(
        streaming.windowed_lang_counts(
            streaming.stream_pages(spark, landing, max_files_per_trigger=1)
        ),
        out, ckpt,
    )
    return (
        spark.read.parquet(out)
        .filter(F.col("lang") != "sentinel")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum("n_pages").alias("n_pages"),
        )
        .orderBy("lang")
    )


def _q_streaming_sessions(spark, sf_dir):
    """Watermarked SESSION windows (F.session_window) through the
    driver contract (rows-only: streaming): 200 fixture pages with
    timestamps dilated into 4 crawl bursts (2h of silence every 50
    pages) sessionize per host at gap=30m; the far-future sentinel
    (mtime-ordered last) closes every real session. Emits the
    finalized bursts as scalar rows."""
    import datetime as dt

    from kgspark import streaming
    from kgspark.fixtures import PAGES_DDL, pages_df

    tmp = _tmp_dir("stream_session_q")
    landing, out, ckpt = f"{tmp}/landing", f"{tmp}/out", f"{tmp}/ckpt"
    marker = f"{tmp}/sentinel_done"
    if not os.path.exists(marker):
        import glob  # noqa: PLC0415

        docid = F.regexp_extract("url", r"doc(\d+)$", 1).cast("long")
        burst_pages = (
            pages_df(spark, 200)
            .withColumn(
                "warc_ts",
                F.col("warc_ts")
                + F.make_interval(
                    hours=(F.floor(docid / 50) * 2).cast("int")
                ),
            )
        )
        burst_pages.coalesce(2).write.mode("append").parquet(landing)
        data_files = set(glob.glob(f"{landing}/*.parquet"))
        sentinel_ts = dt.datetime(
            2024, 1, 2, tzinfo=dt.timezone.utc
        ) + dt.timedelta(hours=12)
        spark.createDataFrame(
            [("https://sentinel.end/doc0", sentinel_ts, None, "end",
              "sentinel")],
            PAGES_DDL,
        ).coalesce(1).write.mode("append").parquet(landing)
        data_mtime = max(os.path.getmtime(f) for f in data_files)
        for f in set(glob.glob(f"{landing}/*.parquet")) - data_files:
            os.utime(f, (data_mtime + 2.0, data_mtime + 2.0))
        open(marker, "w").close()
    streaming.run_to_parquet(
        streaming.session_crawl_bursts(
            streaming.stream_pages(spark, landing, max_files_per_trigger=1),
            gap="30 minutes",
            watermark="30 minutes",
        ),
        out, ckpt,
    )
    return (
        spark.read.parquet(out)
        .filter(F.col("host") != "sentinel.end")
        .select(
            "host",
            F.unix_micros("burst_start").alias("burst_start_us"),
            F.unix_micros("burst_end").alias("burst_end_us"),
            "n_pages",
            "n_chars",
        )
        .orderBy("burst_start_us")
    )


def _q_events_stats(spark, sf_dir):
    events = _read(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def _q_top_events_per_user(spark, sf_dir):
    """Window function: top-2 events per user by value (row_number
    over a deterministic order)."""
    from pyspark.sql import Window

    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.col("event_id")
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("user_id", "event_id", "event_type", "value", "rn")
    )


def _q_orders_rollup(spark, sf_dir):
    """Rollup aggregation: order counts by (status, priority) with
    subtotals and a grand total."""
    orders = _read(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders", "total_price",
        )
    )


def _query_vec(spark, sf_dir) -> list[float]:
    row = (
        _read(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    return [float(x) for x in row["embedding"]]


def _q_ann_cosine_topk(spark, sf_dir):
    from kgspark.dataops import brute_force_ann

    q = _query_vec(spark, sf_dir)
    return brute_force_ann(_read(spark, sf_dir, "embeddings"), q, k=10).select(
        "vec_id", F.round("score", 6).alias("score")
    )


def _q_ann_filtered_topk(spark, sf_dir):
    """Metadata-filtered vector search (vector-DB pre-filter
    strategy): semi-join the allowed ids (lang='en' documents) BEFORE
    any distance math, then cosine top-k over survivors — guarantees
    k hits when they exist, never scores excluded rows."""
    from kgspark.dataops import filtered_ann

    q = _query_vec(spark, sf_dir)
    allowed = _read(spark, sf_dir, "documents").filter(
        F.col("lang") == "en"
    ).select("doc_id")
    return filtered_ann(
        _read(spark, sf_dir, "embeddings"), allowed, q, k=10
    ).select("vec_id", F.round("score", 6).alias("score"))


def _q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN. Oracle re-derives the argmax-cosine cell assignment and
    the 3 probed cells in SQL (centroids = first 8 embeddings by
    vec_id, same as here)."""
    from kgspark.dataops import ivf_ann

    emb = _read(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    q = _query_vec(spark, sf_dir)
    return ivf_ann(emb, cents, q, k=10, n_probe=3).select(
        "vec_id", F.round("score", 6).alias("score")
    )


def _q_ann_ivf_indexed(spark, sf_dir):
    """Materialized-IVF probe path: build (or resume) the partitioned
    assignment index via TableIO, then query it — the cell filter is a
    partition filter on the index layout. Same semantics as ann_ivf_topk
    -> same oracle SQL."""
    from kgspark.dataops import ivf_build, ivf_query
    from kgspark.io import TableIO

    emb = _read(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    io = TableIO(_tmp_dir("ivf_wh"))
    # thread the snapshot id through: ivf_build resumes without
    # committing when input_key matches, so querying the manifest's
    # CURRENT snapshot instead could read another sf_dir's index when
    # one process serves several sf_dirs interleaved
    snap = ivf_build(io, emb, cents, input_key=f"embeddings:{sf_dir}:cents=8")
    return ivf_query(
        io, spark, _query_vec(spark, sf_dir), k=10, n_probe=3, snapshot=snap
    ).select("vec_id", F.round("score", 6).alias("score"))


def _q_kg_graph_stats(spark, sf_dir):
    """Graph stats surface (rows-only: built over the UDF-derived KG
    tables; the aggregation itself is trivial algebra)."""
    from kgspark.query import graph_stats

    frames = _kg_frames(spark, sf_dir)
    return graph_stats(frames["kg_nodes"], frames["kg_edges"]).orderBy(
        "dim", "key"
    )


def _q_hybrid_fusion(spark, sf_dir):
    from kgspark.dataops import _marker_hits  # noqa: F401
    from kgspark.query import fuse, vector_topk

    emb = _read(spark, sf_dir, "embeddings")
    docs = _read(spark, sf_dir, "documents")
    q = _query_vec(spark, sf_dir)
    vec_hits = vector_topk(emb, q, k=20, id_col="vec_id")
    kw_hits = (
        docs.select(
            F.col("doc_id").alias("vec_id"),
            (F.size(F.split(F.lower(F.col("text")), r"\bspark\b", -1)) - 1)
            .cast("double")
            .alias("score"),
        )
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), "vec_id")
        .limit(20)
    )
    fused = fuse(vec_hits, kw_hits, k=10, id_col="vec_id")
    return fused.select(
        "vec_id",
        F.round("vector_score", 6).alias("vector_score"),
        F.round("keyword_score", 6).alias("keyword_score"),
        F.round("combined_score", 6).alias("combined_score"),
    )


def _q_stratified_sample(spark, sf_dir):
    """Deterministic hash-bucket sampling per language stratum — the
    training-mix rebalancing primitive; membership is md5-hash-stable,
    so the oracle reproduces the exact surviving rows in SQL."""
    from kgspark.dataops import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    return stratified_sample(
        docs, {"en": 0.5, "zh": 0.3}, default=0.2
    ).select("doc_id", "lang")


def _q_regional_revenue(spark, sf_dir):
    """TPC-H Q5 star-join shape: revenue per nation within a region —
    the fact table streams through BROADCAST dimension joins
    (region->nation->customer chain + supplier co-nation check), one
    exchange for the final nation agg."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    supplier = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    nr = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        nation["n_regionkey"] == region["r_regionkey"],
    ).select("n_nationkey", "n_name")
    cust = customer.join(
        F.broadcast(nr), customer["c_nationkey"] == nr["n_nationkey"]
    ).select("c_custkey", F.col("n_nationkey").alias("c_nk"), "n_name")
    ords = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).select("o_orderkey", "c_nk", "n_name")
    supp = supplier.select("s_suppkey", "s_nationkey")
    return (
        # ords is fact-sided (grows with sf) — let the planner/AQE
        # pick its join strategy; only true dimensions are forced
        li.join(ords, li["l_orderkey"] == ords["o_orderkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .filter(F.col("s_nationkey") == F.col("c_nk"))
        .groupBy("n_name")
        .agg(
            # per-item deterministic round to integer cents, then an
            # EXACT integer sum — a rounded double sum at this
            # magnitude sits within float error of a .xx5 boundary
            # often enough to flip engines
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * 100,
                    0,
                ).cast("long")
            )
            .cast("bigint")
            .alias("revenue_cents"),
            F.count("*").cast("bigint").alias("n_lines"),
        )
    )


def _q_customer_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: distribution of customers by order count
    INCLUDING zero-order customers — left outer join + two hash aggs;
    the outer join is what the inner-join family cannot express."""
    customer = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders, customer["c_custkey"] == orders["o_custkey"], "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count("*").cast("bigint").alias("n_customers")
    )


def _q_hll_merged_distinct(spark, sf_dir):
    """Mergeable distinct-count sketches: per-event-type HLL sketches
    merged into a global estimate FROM THE SKETCHES (hll_union_agg) —
    the incremental stats pattern that answers distinct counts at
    100 TB without rescanning. Estimates are approximate -> rows-only;
    pytest bounds the error and asserts merge==direct. SELF-CHECKING
    (r5 directive 6): each row carries the exact distinct count, the
    relative error (rounded 6), and is FILTERED on bound_ok
    (rel_err <= 0.05 — generous vs HLL's ~1.6% at lgK=12, tight
    enough that a broken merge flips the driver's row count)."""
    from kgspark.dataops import hll_merged_distinct

    ev = _read(spark, sf_dir, "events")
    est = hll_merged_distinct(ev)
    exact = ev.groupBy(
        F.col("event_type").alias("partition")
    ).agg(F.count_distinct("user_id").alias("exact_distinct")).unionByName(
        ev.agg(
            F.lit("__all__").alias("partition"),
            F.count_distinct("user_id").alias("exact_distinct"),
        )
    )
    # full_outer + coalesce sentinels, like the streaming self-checks: a
    # partition missing from either side reads -1 there, which fails the
    # bound (rel_err >= 1), so the row drops and the driver's row count
    # flips instead of the inner join hiding the gap
    est_d = F.coalesce(F.col("distinct_est"), F.lit(-1))
    exact_d = F.coalesce(F.col("exact_distinct"), F.lit(-1))
    rel_err = F.abs(est_d - exact_d) / F.abs(exact_d)
    return (
        est.join(exact, "partition", "full_outer")
        .select(
            "partition", "n_rows", "distinct_est", "exact_distinct",
            F.round(rel_err, 6).alias("rel_err"),
            (rel_err <= 0.05).alias("bound_ok"),
        )
        .filter(F.col("bound_ok"))
        .orderBy("partition")
    )


def _q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (A-ES with
    md5-derived uniforms): top-100 docs by ln(u)/weight with weight =
    n_chars — the auditable 'sample by quality score' primitive; same
    winners on every engine/run/cluster size."""
    from kgspark.dataops import weighted_sample

    ws = weighted_sample(
        _read(spark, sf_dir, "documents"), "n_chars", k=100
    )
    return ws.select(
        "doc_id", "weight", F.round("sample_key", 6).alias("sample_key")
    )


def _q_corpus_curation(spark, sf_dir):
    """End-to-end curation composition: exact dedup -> quality
    scoring -> self-calibrated p25 cutoff -> deterministic weighted
    sample of 50. Each stage is oracle-checked alone elsewhere; this
    row checks the COMPOSITION."""
    from kgspark.dataops import curate_corpus

    ws = curate_corpus(_read(spark, sf_dir, "documents"), k=50)
    return ws.select(
        "doc_id", "weight", F.round("sample_key", 6).alias("sample_key")
    )


def _q_data_quality_report(spark, sf_dir):
    """Declarative dbt-test-style constraint gate over the relational
    tables: one row per check with its violation count — each check a
    column-pruned scan + algebraic agg (unique = per-key count;
    referential = broadcast left_anti)."""
    from kgspark.dataops import data_quality_report

    tables = {
        t: _read(spark, sf_dir, t)
        for t in ("customer", "orders", "lineitem")
    }
    checks = [
        {"id": "custkey_not_null", "type": "not_null",
         "table": "customer", "column": "c_custkey"},
        {"id": "orderkey_unique", "type": "unique",
         "table": "orders", "columns": ["o_orderkey"]},
        {"id": "lineitem_pk_unique", "type": "unique",
         "table": "lineitem",
         "columns": ["l_orderkey", "l_linenumber"]},
        {"id": "order_cust_fk", "type": "referential",
         "table": "orders", "column": "o_custkey",
         "ref_table": "customer", "ref_column": "c_custkey"},
        {"id": "lineitem_order_fk", "type": "referential",
         "table": "lineitem", "column": "l_orderkey",
         "ref_table": "orders", "ref_column": "o_orderkey"},
        {"id": "qty_range", "type": "range", "table": "lineitem",
         "column": "l_quantity", "min": 0, "max": 100},
        {"id": "price_positive", "type": "range", "table": "orders",
         "column": "o_totalprice", "min": 0},
        {"id": "status_accepted", "type": "accepted",
         "table": "orders", "column": "o_orderstatus",
         "values": ["P", "O", "F"]},
    ]
    return data_quality_report(tables, checks)


def _q_snapshot_cdc_diff(spark, sf_dir):
    """Time-travel CDC between two committed snapshots (Iceberg
    changelog-scan analog): old = docs with doc_id%10 != 9, new = docs
    with doc_id%10 != 0 and a text rewrite for doc_id%7 == 0 — the
    keyed diff emits insert/delete/update with map-side row hashes and
    ONE shuffle on the key."""
    from kgspark.io import TableIO

    io = TableIO(_tmp_dir(f"cdc_wh_{os.path.basename(sf_dir)}"))
    docs = _read(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 9)
    new = docs.filter(F.col("doc_id") % 10 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    s1 = io.commit("docs_cdc", old, metadata={"v": 1})
    s2 = io.commit("docs_cdc", new, metadata={"v": 2})
    diff = io.snapshot_diff(spark, "docs_cdc", s1, s2, keys=["doc_id"])
    # scalar-only output contract: absent-side hashes as '' not NULL
    return diff.select(
        "doc_id",
        "change",
        F.coalesce("old_hash", F.lit("")).alias("old_hash"),
        F.coalesce("new_hash", F.lit("")).alias("new_hash"),
    )


def _q_bpe_merges(spark, sf_dir):
    """BPE tokenizer training (10 merges) over the corpus
    word-frequency table: the corpus is scanned once, the distinct-word
    table is collected, and the merges are learned in driver memory
    with incremental pair counts. Deterministic (count desc,
    "left right" asc) tie-break. Iterative merge loop — not
    SQL-expressible; pytest checks parity with a sequential reference
    BPE implementation."""
    from kgspark.bpe import bpe_train

    return bpe_train(_read(spark, sf_dir, "documents"), n_merges=10)


def _q_bpe_encode(spark, sf_dir):
    """BPE encode/apply (r5): tokenize the corpus with its own trained
    merge list — the step a training-data pipeline runs over 100% of
    bytes — via the mapInPandas encoder (broadcast rank dict, greedy
    merge per word inside each Arrow batch, per-batch word cache).
    Rows-only: training is an iterative merge loop, so no static SQL
    oracle; pytest pins (a) parity with a sequential Python encoder
    on seeded unicode text, (b) token-count reconciliation
    invariants. SELF-CHECKING columns: the
    driver hash covers per-doc bounds_ok = n_words <= n_bpe_tokens <=
    n_chars, so a broken encoder flips hashed values, not just
    unchecked counts."""
    from kgspark.bpe import bpe_encode, bpe_train
    from kgspark.dataops import norm_text

    docs = _read(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=10).orderBy("rank").collect()
    ]
    enc = bpe_encode(docs, merges)
    bounds = docs.select(
        "doc_id",
        F.size(
            F.filter(F.split(norm_text(F.col("text")), " "),
                     lambda w: w != "")
        ).cast("bigint").alias("n_words"),
        F.length(
            F.regexp_replace(norm_text(F.col("text")), " ", "")
        ).cast("bigint").alias("n_chars"),
    )
    return enc.join(bounds, "doc_id").select(
        "doc_id",
        "n_bpe_tokens",
        (
            (F.col("n_words") <= F.col("n_bpe_tokens"))
            & (F.col("n_bpe_tokens") <= F.col("n_chars"))
        ).alias("bounds_ok"),
    )


def _q_fuzzy_vocab_linkage(spark, sf_dir):
    """Record linkage by approximate string join: probe strings (each
    vocabulary word >= 5 chars with its 2nd char deleted) matched back
    to the vocabulary at Levenshtein <= 1 via gram blocking + verify.
    The oracle is the BRUTE-FORCE cross join, so a blocking recall
    miss fails the hash check."""
    from kgspark.dataops import fuzzy_string_join, norm_text

    words = (
        _read(spark, sf_dir, "documents")
        .select(
            F.explode(F.split(norm_text(F.col("text")), " ")).alias("w")
        )
        .filter(F.length("w") >= 4)
        .distinct()
    )
    probes = words.filter(F.length("w") >= 5).select(
        F.concat(
            F.substring("w", 1, 1), F.expr("substring(w, 3)")
        ).alias("p")
    ).distinct()
    return fuzzy_string_join(probes, words, "p", "w", max_dist=1)


def _q_dsir_importance(spark, sf_dir):
    """DSIR (Xie et al. 2023) importance scores over hashed unigram
    features: avg log p_target/p_corpus per doc, target = the
    deterministic doc_id%97 slice; both distributions are fixed
    4096-bucket smoothed tables, the log-ratio table broadcasts."""
    from kgspark.dataops import dsir_importance

    docs = _read(spark, sf_dir, "documents")
    return dsir_importance(docs, docs.filter(F.col("doc_id") % 97 == 0))


def _q_winnow_fingerprint(spark, sf_dir):
    """Winnowing (rolling-hash window-min) document sketch, reduced to
    per-doc scalars: fingerprint count + md5 of the sorted fingerprint
    list. Per-row array math, no shuffle before the final agg."""
    from kgspark.dataops import winnow_fingerprints

    fps = winnow_fingerprints(_read(spark, sf_dir, "documents"))
    return fps.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_fps"),
        F.md5(
            F.concat_ws(",", F.sort_array(F.collect_list("fp")))
        ).alias("sketch_hash"),
    )


def _q_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles of event value per type
    (p50/p90/p99). Exact `percentile` is the oracle-checkable mode; the
    100 TB path is approx_percentile (t-digest sketch, mergeable
    map-side) — pytest asserts the sketch tracks the exact answer."""
    events = _read(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


def _q_asof_last_view(spark, sf_dir):
    """Backward as-of join through the driver contract: enrich every
    purchase event with the user's most recent view at-or-before it
    (DuckDB verifies with its native ASOF LEFT JOIN). Views are
    reduced to one per (user, ts) by max event_id first, so the match
    is deterministic in both engines."""
    from kgspark.dataops import asof_join, ts_micros

    events = _read(spark, sf_dir, "events")
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("view_event_id"),
            F.max_by("value", "event_id").alias("view_value"),
        )
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        purchases, views, on="user_id", ts="ts",
        value_cols=["view_event_id", "view_value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        ts_micros(joined).alias("ts_us"),
        "view_event_id",
        F.round("view_value", 6).alias("view_value"),
    )


def _q_events_in_sessions(spark, sf_dir):
    """Bucket-blocked range join through the driver contract: assign
    every event to the session interval containing it (sessions from
    the 10-min-gap sessionizer). The engine side never gives Catalyst
    a raw range condition — intervals explode to overlapped hour
    buckets and the join is an equi-join plus residual BETWEEN; the
    oracle verifies with a plain inequality join."""
    from kgspark.dataops import interval_join, sessionize, ts_micros

    events = _read(spark, sf_dir, "events")
    sessions = sessionize(events, gap_seconds=600)
    pts = events.select(
        "event_id", "user_id", ts_micros(events).alias("ts_us")
    )
    joined = interval_join(
        pts, sessions, on="user_id", ts="ts_us",
        start="session_start_us", end="session_end_us",
    )
    return joined.select(
        "event_id", "user_id",
        F.col("session_idx").cast("long").alias("session_idx"),
        F.col("n_events").cast("long").alias("n_events"),
    )


def _q_batch_ann_topk(spark, sf_dir):
    """Batched exact ANN: the first five embedding rows act as a query
    batch; one broadcast cross-join pass returns each query's cosine
    top-3 (corpus scanned once for the whole batch)."""
    from kgspark.dataops import batch_ann

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    out = batch_ann(queries, emb, k=3)
    return out.select(
        "query_id", "vec_id", F.round("score", 6).alias("score")
    )


def _q_nfc_fingerprints(spark, sf_dir):
    """Unicode NFC canonicalization before fingerprinting (web text
    mixes composed/decomposed forms, silently defeating hash dedup) —
    pandas-UDF normalize, md5 of the canonical text, changed flag.
    DuckDB verifies with its native nfc_normalize."""
    from kgspark.dataops import nfc_normalize

    out = nfc_normalize(_read(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.md5("text_nfc").alias("nfc_fingerprint"),
        "changed",
    )


def _q_quantized_embeddings(spark, sf_dir):
    """Int8 scalar quantization reduced to per-vector scalars (scale,
    code sum/min/max, saturation count) — array output stays out of
    the driver canonicalizer; the recall/error-bound checks live in
    pytest."""
    from kgspark.dataops import quantize_embeddings

    q = quantize_embeddings(_read(spark, sf_dir, "embeddings"))
    codes = F.transform(F.col("qvec"), lambda c: c.cast("long"))
    return q.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.aggregate(codes, F.lit(0).cast("long"), lambda a, c: a + c)
        .alias("q_sum"),
        F.array_min("qvec").cast("long").alias("q_min"),
        F.array_max("qvec").cast("long").alias("q_max"),
        F.size(F.filter(codes, lambda c: F.abs(c) == 127))
        .cast("long")
        .alias("n_sat"),
    )


def _q_events_pivot(spark, sf_dir):
    """Pivot: per-user event counts spread across one column per event
    type (explicit category list keeps the schema deterministic — the
    scale-safe form; an unlisted-values pivot needs an extra distinct
    pass). Oracle uses conditional aggregation, the engine-portable
    equivalent."""
    events = _read(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    piv = (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .count()
    )
    return piv.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in types
        ],
    )


def _q_orders_cube(spark, sf_dir):
    """Full CUBE over (status, priority) — every grouping-set combo in
    one pass (rollup's bigger sibling in the §2.2 checklist)."""
    orders = _read(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


def _q_doc_length_histogram(spark, sf_dir):
    """Fixed-width histogram of document lengths (bucket = 100 chars,
    clamped at 10 buckets) — one hash agg, the profiling primitive for
    corpus length distributions."""
    docs = _read(spark, sf_dir, "documents")
    bucket = F.least(
        F.floor(F.col("n_chars") / 100), F.lit(9)
    ).cast("long")
    return docs.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


def _q_events_json_props(spark, sf_dir):
    """JSON functions through the driver contract: extract the numeric
    `k` property from the events' JSON props column and aggregate per
    event type (get_json_object — JVM-side JSON path evaluation)."""
    events = _read(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return events.select("event_type", k.alias("k")).groupBy(
        "event_type"
    ).agg(
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


def _q_keyword_bm25(spark, sf_dir):
    """BM25 relevance top-10 over the documents inverted index — the
    df/length-normalized analog of the reference's ES best_fields
    scoring. Exercises the PRODUCTION path: doc-length stats are
    materialized once at ingest (build_bm25_stats, resumed on repeat)
    and the query touches only its own term rows — no full-index
    aggregate per query. Fully SQL-expressible: the oracle re-derives
    the index, doc lengths, df and the Lucene idf in DuckDB."""
    from kgspark.io import TableIO
    from kgspark.query import (
        build_bm25_stats,
        build_inverted_index,
        keyword_scores_bm25,
        read_bm25_stats,
    )

    docs = _read(spark, sf_dir, "documents")
    index = build_inverted_index(docs, id_col="doc_id", text_col="text")
    io = TableIO(_tmp_dir("bm25_wh"))
    snap = build_bm25_stats(
        io, index, input_key=f"documents:{sf_dir}", id_col="doc_id"
    )
    dl, n_docs, avgdl = read_bm25_stats(io, spark, snap)
    return keyword_scores_bm25(
        index, "spark data query", k=10, id_col="doc_id",
        dl=dl, n_docs=n_docs, avgdl=avgdl,
    ).select("doc_id", F.round("score", 6).alias("score"))


def _q_ngram_jaccard(spark, sf_dir):
    from kgspark.dataops import ngram_jaccard, word_shingles

    docs = _read(spark, sf_dir, "documents")
    pairs = docs.select(
        F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 1).alias("doc_b")
    ).filter(F.col("doc_a") % 10 == 0)
    sh = word_shingles(docs, n=3)
    return ngram_jaccard(pairs, sh).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def _q_minhash_near_dup(spark, sf_dir):
    """MinHash near-dup in the engine-portable md5 hash mode, so the
    banded candidate generation itself is oracle-checked (the xxhash64
    production mode shares every line except the hash expression and is
    covered by pytest recall tests)."""
    from kgspark.dataops import minhash_near_dup

    return minhash_near_dup(
        _read(spark, sf_dir, "documents"), threshold=0.5, hash_mode="md5"
    ).select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def _q_embedding_near_dup(spark, sf_dir):
    from kgspark.dataops import embedding_near_dup

    return embedding_near_dup(
        _read(spark, sf_dir, "embeddings"), threshold=0.4
    ).select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))


def _q_embedding_near_dup_lsh(spark, sf_dir):
    """LSH-blocked variant. The seeded Gaussian planes are deterministic
    (seed=42, dim=64), so the oracle inlines the exact plane literals
    and re-derives the sign-bit band keys in SQL."""
    from kgspark.dataops import embedding_near_dup_lsh

    return embedding_near_dup_lsh(
        _read(spark, sf_dir, "embeddings"), threshold=0.4
    ).select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))


def _q_near_dup_clusters(spark, sf_dir):
    """Near-dup clustering: MinHash pairs -> connected components ->
    min-doc_id representative. md5 hash mode makes the pair list SQL-
    derivable; the oracle closes it transitively with WITH RECURSIVE."""
    from kgspark.dataops import near_dup_clusters

    return near_dup_clusters(
        _read(spark, sf_dir, "documents"), threshold=0.5, hash_mode="md5"
    ).orderBy("doc_id")


def _q_media_stats(spark, sf_dir):
    """Multimodal decode + stats (rows-only: binary decode is a
    mapInPandas stage, not SQL; codec correctness covered by pytest).
    Since r5 two thirds of the images are REAL encoded files (24-bit
    BMP / P6 PPM, decoded by the dependency-free codecs in
    kgspark.multimodal), so total_payload_bytes hashes actual decoded
    pixel-buffer sizes, not stub header metadata."""
    from kgspark.multimodal import media_df, media_stats

    return media_stats(media_df(spark, 300)).orderBy("kind")


def _q_media_frames(spark, sf_dir):
    """Frame sampling over the mixed corpus: real images contribute
    their DECODED raw RGB buffer as frame 0, so decoded_bytes (hashed
    by the driver) reflects real codec output sizes (3*w*h), while
    KGSM videos keep the fixed fake-frame accounting."""
    from kgspark.multimodal import media_df, sample_frames

    return (
        sample_frames(media_df(spark, 300), every_n=2)
        .groupBy("media_id")
        .agg(
            F.count("*").alias("n_frames_kept"),
            F.sum(F.length("frame")).alias("decoded_bytes"),
        )
        .orderBy("media_id")
    )


def _q_kg_lineage(spark, sf_dir):
    """Checkpointed Pipeline run + per-stage lineage rollup (rows-only:
    per-partition lineage carries durations/run ids; the rollup keeps
    only the deterministic columns). Exercises the resumable TableIO
    path through the driver contract."""
    from kgspark.fixtures import pages_df
    from kgspark.pipeline import Pipeline

    pipe = Pipeline(_tmp_dir("lineage_wh"), link_mode="exact")
    pipe.run(spark, pages_df(spark, 100), corpus_id="pages:n=100:seed=42")
    lineage = pipe.lineage(spark)
    return (
        lineage.groupBy("stage")
        .agg(F.sum("n_rows").alias("n_rows"))
        .orderBy("stage")
    )


def _q_kg_curated(spark, sf_dir):
    """Corpus curation THROUGH the checkpointed Pipeline (rows-only:
    the composed op itself is the oracle-green `corpus_curation`
    query; this exercises the Pipeline.curate stage — committed
    `curated` snapshot, lineage rows, resume on re-run). Returns the
    per-run lineage rollup plus the curated row count."""
    from kgspark.fixtures import pages_df
    from kgspark.pipeline import Pipeline

    pipe = Pipeline(_tmp_dir("curate_wh"), link_mode="exact")
    pipe.run(spark, pages_df(spark, 100), corpus_id="pages:n=100:seed=42")
    snap = pipe.curate(spark, k=20, threshold_pct=0.25, run_id="c0")
    cur = pipe.io.read(spark, "curated", snap)
    return cur.select(
        "doc_id", F.round("weight", 6).alias("weight"),
        F.round("sample_key", 6).alias("sample_key"),
    ).orderBy("doc_id")


def _q_kg_incremental(spark, sf_dir):
    """Incremental ingest through the driver contract (rows-only:
    snapshot machinery isn't SQL): two delta uploads via
    Pipeline.run_append must land exactly the triples of one batch run
    over the union corpus, with re-uploaded urls dropped. Returns one
    row per stage table with its accumulated row count plus an
    append-vs-batch triple-parity flag."""
    from kgspark.fixtures import pages_df
    from kgspark.pipeline import Pipeline

    pa = Pipeline(_tmp_dir("inc_wh_a"), link_mode="exact")
    full = pages_df(spark, 60)
    delta_a = pages_df(spark, 30)
    delta_b = full.join(delta_a.select("url"), "url", "left_anti")
    pa.run_append(spark, delta_a, "d1")
    pa.run_append(spark, delta_b, "d2")
    # re-upload of already-seen urls must be a no-op
    pa.run_append(spark, delta_a, "d3")

    pb = Pipeline(_tmp_dir("inc_wh_b"), link_mode="exact")
    pb.run(spark, full, corpus_id="pages:n=60:seed=42")

    ta = pa.io.read(spark, "kg_edges").select("subj", "pred", "obj")
    tb = pb.io.read(spark, "kg_edges").select("subj", "pred", "obj")
    parity = (
        ta.exceptAll(tb).isEmpty() and tb.exceptAll(ta).isEmpty()
    )
    rows = [
        (t, pa.io.read_accumulated(spark, t).count())
        for t in ("pages", "chunks", "extracted", "kg_nodes", "kg_edges")
    ]
    return spark.createDataFrame(
        [(name, n, parity) for name, n in rows],
        "table string, n_rows long, append_equals_batch boolean",
    ).orderBy("table")


def _q_streaming_triples(spark, sf_dir):
    """Structured-Streaming ingest (rows-only): drain a pages backlog
    through the streaming S1->S4 path with availableNow, return the
    sink contents. Equality with the batch path is pytest-verified
    (tests/test_streaming.py) AND computed in-query (r5 directive 6):
    each row carries batch_equal — the per-pred count from the BATCH
    S1->S4 pipeline over the same landing dir must match the streaming
    sink exactly — and the result is FILTERED on it, so a stream/batch
    divergence flips the driver's row count."""
    from kgspark import stages, streaming
    from kgspark.fixtures import pages_df

    tmp = _tmp_dir("stream_q")
    landing, out, ckpt = f"{tmp}/landing", f"{tmp}/out", f"{tmp}/ckpt"
    pages_df(spark, 100).coalesce(2).write.mode("overwrite").parquet(landing)
    streaming.run_to_parquet(
        streaming.stream_triples(streaming.stream_pages(spark, landing)),
        out, ckpt,
    )
    batch = stages.raw_edges_of(
        stages.extract(
            stages.chunk(stages.extract_text(spark.read.parquet(landing)))
        )
    ).groupBy(F.col("type").alias("pred")).agg(
        F.count("*").alias("__n_batch")
    )
    return (
        spark.read.parquet(out)
        .groupBy("pred")
        .agg(F.count("*").alias("n_triples"))
        .join(batch, "pred", "full_outer")
        .select(
            "pred",
            "n_triples",
            (
                F.coalesce(F.col("n_triples"), F.lit(-1))
                == F.coalesce(F.col("__n_batch"), F.lit(-2))
            ).alias("batch_equal"),
        )
        .filter(F.col("batch_equal"))
        .orderBy("pred")
    )


def _q_kmeans_clusters(spark, sf_dir):
    """Spherical k-means (k=4, two Lloyd iterations, deterministic
    first-k-by-id init — kgspark.dataops.kmeans_train) trained
    distributed, then every vector assigned to its final centroid:
    per-cell member count + mean cosine to the owning centroid. The
    oracle unrolls BOTH iterations in SQL (argmax-cosine assignment +
    per-dimension AVG update), so centroid *training* — not just
    assignment — is oracle-checked. This is the learning step that
    feeds ivf_build at scale (reference ANN backend: qdrant_store.py;
    centroid choice is the part Qdrant hides)."""
    from kgspark.dataops import ivf_assign, kmeans_train

    emb = _read(spark, sf_dir, "embeddings")
    cents = kmeans_train(emb, k=4, n_iter=2)
    return (
        ivf_assign(emb, cents, with_score=True)
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.avg("best_cos"), 6).alias("avg_cos"),
        )
    )


def _q_tfidf_top_terms(spark, sf_dir):
    """Top-3 distinctive terms per source by TF-IDF — corpus
    characterization where raw frequency (top_terms) is stopword-
    dominated. One tokenize pass -> two partial aggs (tf, df) joined
    on the tiny per-term table."""
    from kgspark.dataops import tfidf_top_terms

    docs = _read(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, group_col="source", k=3)


def _q_dataset_split(spark, sf_dir):
    """Deterministic train/val/test split (80/10/10) by the engine-
    portable md5 hash bucket — reproducible across runs, engines, and
    cluster sizes (randomSplit is not); the oracle re-derives the
    exact membership in SQL. Map-only, no shuffle before the agg."""
    from kgspark.dataops import dataset_split

    docs = _read(spark, sf_dir, "documents")
    return (
        dataset_split(docs)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


def _q_part_triangles(spark, sf_dir):
    """Triangle count over the parts-co-ordered-together graph
    (edge = two parts appearing in the same order): degree-ordered
    orientation + edge-iterator adjacency intersection
    (kgspark.cc.triangle_count) — the scale
    path whose count the oracle verifies with plain a<b<c SQL (the
    count is orientation-invariant). The co-order self-join shuffles
    on orderkey with per-order fanout C(items, 2), bounded by order
    size — never all-pairs over parts."""
    from kgspark.cc import co_order_pairs, triangle_count

    pairs = co_order_pairs(_read(spark, sf_dir, "lineitem"))
    return triangle_count(pairs)


def _q_part_link_prediction(spark, sf_dir):
    """Adamic-Adar link prediction over the parts-co-ordered graph:
    top-20 NON-adjacent part pairs by sum 1/ln(deg) over common
    neighbors. Wedge self-join on the shared neighbor with a deg<=128
    hub cap applied before the join; the O(nodes) degree table joins
    un-hinted (AQE decides — r4 fix); deterministic cut on (rounded
    score, a, b)."""
    from kgspark.cc import adamic_adar, co_order_pairs

    pairs = co_order_pairs(_read(spark, sf_dir, "lineitem"))
    return adamic_adar(pairs, max_deg=128, k=20)


def _q_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: yearly revenue from lineitems whose quantity
    is below 20% of their part's average — the aggregated-dimension
    broadcast pattern (the per-part threshold table is orders of
    magnitude smaller than the fact table, so it broadcasts; the fact
    scan stays pushdown-pruned to three columns)."""
    li = _read(spark, sf_dir, "lineitem")
    thresh = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thresh")
    )
    small = li.join(F.broadcast(thresh), "l_partkey").filter(
        F.col("l_quantity") < F.col("qty_thresh")
    )
    return small.agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
    )


def _q_ntile_spend_buckets(spark, sf_dir):
    """Customer balance deciles WITHOUT the single-task global window:
    kgspark.dataops.distributed_ntile computes the identical NTILE(10)
    via range repartition + per-partition offsets (the scale answer to
    `ntile() OVER (ORDER BY ...)` collapsing to one task); the oracle
    uses the built-in ntile, proving the distributed arithmetic exact."""
    from kgspark.dataops import distributed_ntile

    cust = _read(spark, sf_dir, "customer")
    b = distributed_ntile(cust, ["c_acctbal", "c_custkey"], k=10)
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
    )


def _q_table_profile(spark, sf_dir):
    """Per-column null/distinct/min/max audit of the events table —
    one scan, one aggregate, in-plan stack unpivot
    (kgspark.dataops.table_profile). Exact mode here (oracle-
    checkable); approx (HLL) mode is the 100 TB default."""
    from kgspark.dataops import table_profile

    ev = _read(spark, sf_dir, "events")
    return table_profile(
        ev, columns=["event_id", "user_id", "event_type", "value"]
    )


def _q_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape over the tables this corpus has: for each part,
    the supplier offering the lowest observed unit price
    (l_extendedprice / l_quantity, exact MIN — no summation, so the
    argmin is bit-stable cross-engine), enriched through the
    supplier -> nation -> region dim chain. Fact agg shuffles on
    (partkey, suppkey); everything after is broadcast dim joins +
    a per-part window argmin on the already-aggregated table."""
    li = _read(spark, sf_dir, "lineitem")
    supp = _read(spark, sf_dir, "supplier")
    nat = _read(spark, sf_dir, "nation")
    reg = _read(spark, sf_dir, "region")
    from pyspark.sql import Window  # noqa: PLC0415

    offers = li.filter(F.col("l_quantity") > 0).groupBy(
        "l_partkey", "l_suppkey"
    ).agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
            "unit_price"
        )
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_price", "l_suppkey")
    best = (
        offers.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        best.join(F.broadcast(supp), best["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            F.round("unit_price", 6).alias("best_unit_price"),
        )
    )


def _q_bloom_filter_join(spark, sf_dir):
    """Runtime-filter pattern: build a Bloom filter (m=65536 bits,
    k=4) from the custkeys of 'F'-status orders, probe every
    customer, and summarize — members always pass (zero false
    negatives by construction), non-members pass only at the false-
    positive rate. At 100 TB this is how you prune a fact-table scan
    before the shuffle a semi-join would force: the word table is a
    few KB and broadcasts. The md5 hash construction makes the whole
    filter bit-identical in the DuckDB oracle."""
    from kgspark.dataops import bloom_build, bloom_probe

    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    f_orders = orders.filter(F.col("o_orderstatus") == "F")
    bloom = bloom_build(f_orders, "o_custkey")
    passed = bloom_probe(cust, "c_custkey", bloom)
    members = f_orders.select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct()
    flagged = passed.join(
        members.withColumn("is_member", F.lit(True)), "c_custkey", "left"
    ).select(
        "pass", F.coalesce("is_member", F.lit(False)).alias("is_member")
    )
    return flagged.agg(
        F.count("*").alias("n_customers"),
        F.sum(F.col("pass").cast("long")).alias("n_pass"),
        F.sum(F.col("is_member").cast("long")).alias("n_members"),
        F.sum(
            (F.col("pass") & ~F.col("is_member")).cast("long")
        ).alias("n_false_pos"),
    )


def _q_key_skew_stats(spark, sf_dir):
    """Top-10 hottest event users with row share — the skew probe run
    before keying any shuffle on user_id (kgspark.dataops
    .key_skew_stats); partial-agg + TakeOrderedAndProject, total via
    broadcast cross join (single scan pair, no driver loop)."""
    from kgspark.dataops import key_skew_stats

    ev = _read(spark, sf_dir, "events")
    return key_skew_stats(ev, "user_id", top_n=10)


def _q_zorder_cells(spark, sf_dir):
    """Z-order cell histogram of events over (value, event time):
    equal-width bucket per dimension (3 bits) + Morton interleave —
    the layout key behind multi-dimensional file pruning
    (kgspark.dataops.zorder_layout). Pure per-row arithmetic from a
    broadcast min/max, so the oracle reproduces every z-value
    bit-for-bit."""
    from kgspark.dataops import _width_bucket, zorder_value

    from kgspark.dataops import ts_micros

    ev0 = _read(spark, sf_dir, "events")
    ev = ev0.select(F.col("value"), ts_micros(ev0).alias("ts_us"))
    stats = ev.agg(
        F.min(F.col("value").cast("double")).alias("vmin"),
        F.max(F.col("value").cast("double")).alias("vmax"),
        F.min(F.col("ts_us").cast("double")).alias("tmin"),
        F.max(F.col("ts_us").cast("double")).alias("tmax"),
    )
    keyed = ev.crossJoin(F.broadcast(stats)).withColumn(
        "zvalue",
        zorder_value(
            [
                _width_bucket(F.col("value"), F.col("vmin"), F.col("vmax"), 3),
                _width_bucket(F.col("ts_us"), F.col("tmin"), F.col("tmax"), 3),
            ],
            3,
        ),
    )
    return keyed.groupBy("zvalue").agg(F.count("*").alias("n_events"))


def _q_streaming_join(spark, sf_dir):
    """Stream-stream inner join through the driver contract (rows-
    only: streaming): crawl pages and async per-url annotations land
    as two file streams; watermarked, event-time-bounded join
    (streaming.join_pages_with_annotations) — the bound is what lets
    Spark evict join state, keeping per-key state finite on unbounded
    streams. Deterministic: one in-bound annotation per url, one
    out-of-bound (dropped), batch-equality pytest carries the
    correctness load."""
    import datetime as dt  # noqa: PLC0415

    from kgspark import streaming
    from kgspark.fixtures import pages_df

    tmp = _tmp_dir("stream_join_q")
    landing, ann_dir = f"{tmp}/landing", f"{tmp}/ann"
    out, ckpt = f"{tmp}/out", f"{tmp}/ckpt"
    marker = f"{tmp}/seeded"
    if not os.path.exists(marker):
        pages = pages_df(spark, 100)
        pages.coalesce(1).write.mode("append").parquet(landing)
        anns = pages.select(
            "url",
            (F.col("warc_ts") + F.expr("interval 5 minutes")).alias(
                "ann_ts"
            ),
            F.lit(0.9).alias("quality"),
        ).unionByName(
            pages.limit(10).select(
                "url",
                (F.col("warc_ts") + F.expr("interval 2 hours")).alias(
                    "ann_ts"
                ),
                F.lit(0.1).alias("quality"),
            )
        )
        anns.coalesce(1).write.mode("append").parquet(ann_dir)
        open(marker, "w").close()
    streaming.run_to_parquet(
        streaming.join_pages_with_annotations(
            streaming.stream_pages(spark, landing),
            streaming.stream_annotations(spark, ann_dir),
        ),
        out, ckpt,
    )
    return (
        spark.read.parquet(out)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_joined"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
        )
        .orderBy("lang")
    )


def _q_incremental_dedup(spark, sf_dir):
    """Incremental exact dedup through the driver contract (rows-only:
    warehouse-stateful): the documents table arrives as two appends
    (doc_id < 250, then the rest); each batch dedupes against the
    materialized fingerprint table only — never the prior batches'
    text (kgspark.dataops.incremental_exact_dedup). Emits per-batch
    survivor counts plus a parity flag vs the one-shot global dedup
    of the full table; the composition pytest carries the contract."""
    from kgspark.dataops import exact_dedup, incremental_exact_dedup
    from kgspark.io import TableIO

    docs = _read(spark, sf_dir, "documents")
    tmp = _tmp_dir("incr_dedup_q")
    import shutil  # noqa: PLC0415

    shutil.rmtree(tmp, ignore_errors=True)  # fresh warehouse per run
    io = TableIO(f"{tmp}/wh")
    b1 = docs.filter(F.col("doc_id") < 250)
    b2 = docs.filter(F.col("doc_id") >= 250)
    k1 = incremental_exact_dedup(io, spark, b1).count()
    k2 = incremental_exact_dedup(io, spark, b2).count()
    global_keeps = exact_dedup(docs).count()
    return spark.createDataFrame(
        [
            ("batch1", int(k1)),
            ("batch2", int(k2)),
            ("global", int(global_keeps)),
            ("parity", int(k1 + k2 == global_keeps)),
        ],
        "measure string, n bigint",
    )


def _q_kg_communities(spark, sf_dir):
    """Label-propagation communities over the constructed KG (rows-
    only: iterative; determinism + clique-separation pytest carry
    correctness). Returns the 10 largest communities (label = smallest
    member id by the tie-break, size)."""
    from kgspark.cc import label_propagation

    frames = _kg_frames(spark, sf_dir)
    edges = frames["kg_edges"].select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    labels = label_propagation(edges, iterations=5)
    return (
        labels.groupBy("label")
        .agg(F.count("*").alias("size"))
        .orderBy(F.col("size").desc(), "label")
        .limit(10)
    )


def _q_kg_ppr(spark, sf_dir):
    """Personalized PageRank seeded at the KG's highest-degree entity
    (rows-only: iterative; 1e-12 pytest vs a pure-Python reference).
    Ranks the seed's neighborhood by walk probability — the principled
    ordering for the "related to X" surface that k-hop traversal only
    enumerates. Top-10 by rank."""
    from kgspark.cc import personalized_pagerank

    frames = _kg_frames(spark, sf_dir)
    edges = frames["kg_edges"].select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    deg = (
        edges.select(F.col("src").alias("n"))
        .union(edges.select(F.col("dst").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
        .orderBy(F.col("d").desc(), "n")
        .limit(1)
        .collect()
    )
    seed = deg[0]["n"]
    ppr = personalized_pagerank(edges, [seed], iterations=10).localCheckpoint(
        eager=True
    )
    # SELF-CHECKING (r5 directive 6): PPR with teleport-to-source
    # dangling handling conserves mass exactly like global PageRank;
    # the filter on mass_ok makes a conservation bug flip the driver's
    # row count, and seed_top pins the personalization itself (the
    # seed must out-rank every other node at damping 0.85).
    mass = ppr.agg(F.sum("rank").alias("__mass"))
    top = ppr.agg(F.max_by("node", "rank").alias("__top"))
    return (
        ppr.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(10)
        .crossJoin(F.broadcast(mass))
        .crossJoin(F.broadcast(top))
        .select(
            "node", "rank",
            (F.abs(F.col("__mass") - 1.0) < 1e-9).alias("mass_ok"),
            (F.col("__top") == F.lit(seed)).alias("seed_top"),
        )
        .filter(F.col("mass_ok") & F.col("seed_top"))
    )


def _q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style cluster-blocked semantic near-dup: assign every
    embedding to an IVF cell (same first-8-by-vec_id centroid set as
    the ann_ivf oracle), exact pair cosine ONLY within a cell — the
    quadratic term is sum(n_cell^2), never n^2. The oracle re-derives
    the argmax-cosine assignment and the within-cell pair cosines in
    DuckDB; blocking recall vs the exact near-dup is the documented
    SemDeDup trade (cluster purity), not a bug the hash can hide."""
    from kgspark.dataops import semantic_dedup_pairs

    emb = _read(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    return semantic_dedup_pairs(emb, cents, threshold=0.4).select(
        "vec_a", "vec_b",
        F.col("cell").cast("long").alias("cell"),
        F.round("cosine", 6).alias("cosine"),
    )


def _q_degree_histogram(spark, sf_dir):
    """Log2-bucketed degree distribution of the parts-co-ordered graph
    (the power-law diagnostic behind the engine's hub caps / salting
    thresholds), over the same co_order_pairs edges as part_triangles
    so the graph-mining family shares one blocking derivation."""
    from kgspark.cc import co_order_pairs, degree_histogram

    pairs = co_order_pairs(_read(spark, sf_dir, "lineitem"))
    return degree_histogram(pairs)


def _q_negative_edges(spark, sf_dir):
    """Deterministic hash-bucket-blocked negative sampling over the
    parts-co-ordered graph: 30 non-edges drawn by md5 key — the
    link-prediction training-negative generator; candidate fanout is
    n^2/n_buckets, never all-pairs."""
    from kgspark.cc import co_order_pairs, negative_edges

    pairs = co_order_pairs(_read(spark, sf_dir, "lineitem"))
    return negative_edges(pairs, k=30)


def _q_kmeans_inertia(spark, sf_dir):
    """Per-cell clustering quality (member count + mean cosine distance
    to the assigned centroid) over the same first-8 centroid set as the
    IVF oracle — the inertia report that picks k / flags degenerate
    cells before an IVF or SemDeDup pass trusts the clustering."""
    from kgspark.dataops import kmeans_inertia

    emb = _read(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    return kmeans_inertia(emb, cents)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator/query (SURVEY.md §2).

    ORDERING CONTRACT / ROTATION POLICY (round-4 directive 1): the
    driver verifies only the FIRST 50 entries, so dict order decides
    what CORRECTNESS_r{N}.json can see. The window is packed for
    maximum evidence, in this priority:

      1. oracle-backed queries the driver has never verified — the 7
         r4 additions that landed past the window (r5 directive 5);
      2. queries added or touched THIS round (new operators, fixed
         scale paths, self-checking conversions, shared-kernel users
         of touched code) — their behavior changed, so they need a
         fresh driver-green row;
      3. a minimal KG rows-only smoke set (traversal, curation,
         lineage) so the UDF stages stay exercised;
      4. slots to 50 topped up with the oracle-backed entries whose
         last driver-green row is OLDEST (r3 or earlier).

    Everything after slot 50 is the stable backlog: queries with a
    driver-green row from a prior round (the whole r4 window re-
    verified in CORRECTNESS_r04.json) and no code change since, plus
    the remaining rows-only entries (each carrying a named pytest).
    tools/check_oracle.py runs the IDENTICAL gate over the full dict
    locally; BENCH/oracle_full_r6.json records that run.

    ROTATION CHECKLIST (ADVICE r4): before shipping a round, (a) every
    query whose underlying code changed this round is inside slots
    1-50; (b) every never-driver-checked oracle query is inside; (c)
    the full-dict check_oracle --json artifact is committed.

    A row `"sessionize": _on("events", "sessionize", gap_seconds=600)`
    reads: the query reads the `events` fixture table and returns
    `kgspark.dataops.sessionize(events, gap_seconds=600)`. A query that
    does more than that one call (another module, a post-projection,
    its own plan) is a `_q_*` function.
    """
    return {
        # ---- 1. oracle-backed r4 adds (first driver-green in r5) ----
        "collocations_pmi": _on(
            "documents", "collocations_pmi", min_count=5, k=25
        ),
        "embedding_norm_stats": _on("embeddings", "embedding_norm_stats"),
        "kmeans_inertia": _q_kmeans_inertia,           # also r5-fixed
        "lm_perplexity_buckets": _on("documents", "lm_perplexity_buckets"),
        # ---- 2. added/touched this round ----
        # one undirected-edge canonicalizer (part_triangles,
        # part_link_prediction, degree_histogram, negative_edges) and
        # one power iteration (kg_pagerank, kg_personalized_pagerank)
        # in kgspark/cc.py; label propagation lost its column options
        "part_triangles": _q_part_triangles,
        "part_link_prediction": _q_part_link_prediction,
        "degree_histogram": _q_degree_histogram,
        "kg_communities": _q_kg_communities,
        # one JVM SimHash kernel: hash_mode picks only the per-token
        # hash, and md5 signatures are bit-exact against the DuckDB
        # oracle (the xxhash64 mode is pytest-covered for pair-set
        # agreement)
        "simhash_near_dup": _on(
            "documents", "simhash_near_dup", max_hamming=3, hash_mode="md5"
        ),
        # one exact cosine top-k (query.vector_topk) under every ANN op
        "ann_cosine_topk": _q_ann_cosine_topk,
        "ann_filtered_topk": _q_ann_filtered_topk,
        # r6: one S1->S7 stage definition for build_kg_frames + Pipeline
        "kg_triples": _q_kg_triples,
        "kg_canonical": _q_kg_canonical,
        "kg_incremental": _q_kg_incremental,
        # r5-fixed scale paths (oracle-backed)
        "zipf_slope": _on("documents", "zipf_slope", top_n=300),
        "semantic_dedup_pairs": _q_semantic_dedup,
        # one Arrow-matmul vector-math path: every ivf_assign / LSH
        # consumer re-verified (ann_ivf_vectorized_topk runs the
        # ann_ivf_topk plan, so it needs no window slot)
        "ann_ivf_topk": _q_ann_ivf_topk,
        "ann_ivf_indexed_topk": _q_ann_ivf_indexed,
        "embedding_near_dup_lsh": _q_embedding_near_dup_lsh,
        "kmeans_clusters": _q_kmeans_clusters,
        # one MinHash blocking kernel (S5 LSH linking + document near-
        # dup) and the exact prefix length of prefix_jaccard_join
        "kg_canonical_lsh": _q_kg_canonical_lsh,
        "minhash_near_dup": _q_minhash_near_dup,
        "near_dup_clusters": _q_near_dup_clusters,
        "prefix_jaccard_near_dup": _on(
            "documents", "prefix_jaccard_join", threshold=0.5, n=3
        ),
        # md5_hash60 is the one md5 60-bit hash (seeded md5 hashes, md5
        # band keys, Bloom hashes, negative-edge buckets), and
        # ngram_contamination always broadcasts its eval shingles
        "bloom_filter_join": _q_bloom_filter_join,
        "negative_edges": _q_negative_edges,
        "incremental_dedup": _q_incremental_dedup,
        "ngram_contamination": _on("documents", "ngram_contamination"),
        # kgspark/bpe.py touched (encode path added)
        "bpe_merges": _q_bpe_merges,
        "bpe_encode": _q_bpe_encode,
        # rows-only queries made SELF-CHECKING this round (each filters
        # on its own invariant, so the driver row count carries weight)
        "kg_pagerank": _q_kg_pagerank,
        "kg_personalized_pagerank": _q_kg_ppr,
        "hll_merged_distinct": _q_hll_merged_distinct,
        "streaming_triples": _q_streaming_triples,
        "streaming_source_stats": _q_streaming_source_stats,
        # multimodal: real BMP/PPM codecs landed this round
        "media_stats": _q_media_stats,
        "media_frame_sample": _q_media_frames,
        # ---- 3. KG rows-only smoke set ----
        "kg_khop_related": _q_kg_khop,
        "kg_curated": _q_kg_curated,
        "kg_lineage": _q_kg_lineage,
        # ---- 4. top-up: oracle-backed, last driver-green in r3 ----
        "dedup_lastwins": _q_dedup_lastwins,
        "endpoint_semi_join": _q_endpoint_semi_join,
        "regional_revenue": _q_regional_revenue,
        "top_customers": _q_top_customers,
        "events_stats": _q_events_stats,
        "top_events_per_user": _q_top_events_per_user,
        "orders_rollup": _q_orders_rollup,
        "active_inactive_customers": _q_active_inactive_customers,
        "sessionize": _on("events", "sessionize", gap_seconds=600),
        "data_quality_report": _q_data_quality_report,
        # ================= end of 50-slot driver window =================
        # stable backlog: driver-green in CORRECTNESS_r04.json (the
        # entire r4 window) or r3, code unchanged since; plus remaining
        # rows-only entries (named pytests). All re-verified locally in
        # BENCH/oracle_full_r6.json.
        # driver-green in CORRECTNESS_r05.json, code unchanged since
        "corpus_curation": _q_corpus_curation,
        "snapshot_cdc_diff": _q_snapshot_cdc_diff,
        "weighted_sample": _q_weighted_sample,
        "table_checksum": _on(
            "orders", "table_checksum",
            cols=["o_orderkey", "o_custkey", "o_orderstatus",
                  "o_orderpriority"],
        ),
        "bigram_lm_score": _on("documents", "bigram_lm_score"),
        "char_entropy": _on("documents", "char_entropy"),
        "customer_order_distribution": _q_customer_order_distribution,
        "scd2_history": _on("events", "scd2_history"),
        "user_value_ewma": _on("events", "ewma_features"),
        "event_funnel": _on("events", "funnel_stages"),
        "value_moments": _on("events", "value_moments"),
        "dsir_importance": _q_dsir_importance,
        "value_equidepth_hist": _on("events", "equidepth_histogram", k=10),
        "fuzzy_vocab_linkage": _q_fuzzy_vocab_linkage,
        # full-content fingerprints share nothing across sources in this
        # corpus; 5-token prefixes (the syndication/mirror detector)
        # make the oracle comparison non-vacuous
        "source_overlap": _on("documents", "source_overlap", prefix_tokens=5),
        "per_source_sample": _on("documents", "per_source_sample", k=3),
        "value_twap": _on("events", "value_twap"),
        "doc_fingerprint": _on("documents", "fingerprints"),
        "token_stats": _on("documents", "token_stats"),
        "quality_scores": _on("documents", "quality_scores"),
        "lang_id": _on("documents", "lang_id"),
        "corpus_filter": _on("documents", "corpus_filter"),
        "stratified_sample": _q_stratified_sample,
        "repetition_stats": _on("documents", "repetition_stats"),
        # the corpus is PII-free (counts 0): the oracle checks the shared
        # regex semantics, the planted-PII pytest carries the behaviour
        "pii_scrub": _on("documents", "pii_scrub"),
        # the fixture text has no newlines: 4-word windows are paragraphs
        "paragraph_dedup": _on(
            "documents", "paragraph_dedup",
            min_docs=2, mode="window", words_per_para=4,
        ),
        "unigram_lm_score": _on("documents", "unigram_lm_score"),
        "quality_classifier": _on("documents", "quality_classifier"),
        "value_percentiles": _q_value_percentiles,
        "winnow_fingerprint": _q_winnow_fingerprint,
        "winnow_near_dup": _on("documents", "winnow_near_dup"),
        "top_terms": _q_top_terms,
        "hybrid_fusion_topk": _q_hybrid_fusion,
        "keyword_bm25_topk": _q_keyword_bm25,
        "ngram_jaccard": _q_ngram_jaccard,
        "embedding_near_dup": _q_embedding_near_dup,
        # same plan as ann_ivf_topk; the key keeps the 118-query set
        "ann_ivf_vectorized_topk": _q_ann_ivf_topk,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "dataset_split": _q_dataset_split,
        "small_qty_revenue": _q_small_qty_revenue,
        "ntile_spend_buckets": _q_ntile_spend_buckets,
        "table_profile": _q_table_profile,
        "min_cost_supplier": _q_min_cost_supplier,
        "key_skew_stats": _q_key_skew_stats,
        "zorder_cells": _q_zorder_cells,
        "khop_join": _q_khop_join,
        "source_mix_report": _on("documents", "source_mix_report"),
        "kg_chunk_stats": _q_kg_chunk_stats,
        "kg_top_connected": _q_kg_top_connected,
        "kg_graphrag_search": _q_kg_graphrag,
        "kg_graphrag_entities": _q_kg_graphrag_entities,
        "kg_graph_stats": _q_kg_graph_stats,
        "approx_distinct_users": _q_approx_distinct,
        "orders_trailing_window": _on(
            "orders", "trailing_window_agg", days=30
        ),
        "asof_last_view": _q_asof_last_view,
        "events_in_sessions": _q_events_in_sessions,
        "orders_cube": _q_orders_cube,
        "events_pivot": _q_events_pivot,
        "batch_ann_topk": _q_batch_ann_topk,
        # the oracle replays the same sequential fold as a recursive CTE
        "pack_docs": _on(
            "documents", "pack_sequences", budget=2000, buckets=16
        ),
        "quantized_embeddings": _q_quantized_embeddings,
        "nfc_fingerprints": _q_nfc_fingerprints,
        "doc_length_histogram": _q_doc_length_histogram,
        "events_json_props": _q_events_json_props,
        "exact_dedup": _on("documents", "exact_dedup"),
        "streaming_lang_windows": _q_streaming_lang_windows,
        "streaming_sessions": _q_streaming_sessions,
        "streaming_join": _q_streaming_join,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_COS_SQL = """
  list_sum(list_transform(list_zip(embedding, qv),
           x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""

def _md5h_sql(expr: str) -> str:
    """Portable 64-bit hash: first 15 hex chars of md5 as BIGINT —
    matches kgspark.dataops._seeded_hash64(hash_mode="md5") bit-for-bit
    (Spark: conv(substring(md5(x),1,15),16,10))."""
    return f"('0x' || substring(md5({expr}), 1, 15))::BIGINT"


def _winnow_fp_cte(norm: str) -> str:
    """CTE chain ending in `fps` (doc_id, fp): winnowing fingerprints
    over word 3-grams with window 4 — mirrors
    kgspark.dataops.winnow_fingerprints bit-for-bit (same md5 64-bit
    gram hash, same slice indexing, same >=3-words filter)."""
    gram = _md5h_sql("array_to_string(words[i:i+2], ' ')")
    return f"""
            wbase AS (
              SELECT doc_id, words FROM (
                SELECT doc_id, string_split({norm}, ' ') AS words
                FROM documents) t
              WHERE len(words) >= 3),
            wh AS (
              SELECT doc_id,
                     [{gram} for i in range(1, len(words) - 2 + 1)]
                       AS hashes
              FROM wbase),
            fps AS (
              SELECT doc_id,
                     unnest(list_distinct(
                       [list_min(hashes[i:i+3])
                        for i in range(1, greatest(len(hashes) - 3, 1) + 1)]
                     )) AS fp
              FROM wh)
    """


def _cos_sql(a: str, b: str, guard_b: bool = False) -> str:
    """Guarded cosine(a, b) — mirrors kgspark.query.cosine_score: a
    zero-norm `a` scores 0.0; when guard_b, a zero-norm `b` divides by
    1.0 instead (the Python-side `or 1.0` in cosine_score)."""
    dot = (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )
    na = (
        f"sqrt(list_sum(list_transform({a},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    nb = (
        f"sqrt(list_sum(list_transform({b},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    nb_expr = f"CASE WHEN {nb} = 0 THEN 1.0 ELSE {nb} END" if guard_b else nb
    return f"CASE WHEN {na} > 0 THEN {dot} / ({na} * {nb_expr}) ELSE 0.0 END"


def _pair_cos_sql(a: str, b: str) -> str:
    """Cosine of two array columns with BOTH norms guarded to 0.0 —
    mirrors kgspark.dataops.pair_cosine exactly."""
    dot = (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )
    na = (
        f"sqrt(list_sum(list_transform({a},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    nb = (
        f"sqrt(list_sum(list_transform({b},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    return (
        f"CASE WHEN {na} > 0 AND {nb} > 0"
        f" THEN {dot} / ({na} * {nb}) ELSE 0.0 END"
    )


def _minhash_pairs_ctes(
    norm: str, threshold: float, n_hashes: int = 16, bands: int = 4
) -> str:
    """CTE chain deriving the md5-mode MinHash near-dup pair list
    (doc_a, doc_b, jaccard >= threshold) — the SQL twin of
    kgspark.dataops.minhash_near_dup(hash_mode="md5"). Emits CTEs:
    sh2 (distinct word 3-shingles), mh_pairs (verified pairs)."""
    rows_per_band = n_hashes // bands
    hmins = ",\n                     ".join(
        "min({h}) AS h{i}".format(h=_md5h_sql(f"'{i}|' || shingle"), i=i)
        for i in range(n_hashes)
    )
    band_selects = "\n              UNION ALL\n              ".join(
        "SELECT doc_id, {b} AS band, {sig} AS sig FROM sigs".format(
            b=b,
            sig=_md5h_sql(
                "concat_ws('|', '{b}', {hs})".format(
                    b=b,
                    hs=", ".join(
                        f"CAST(h{b * rows_per_band + r} AS VARCHAR)"
                        for r in range(rows_per_band)
                    ),
                )
            ),
        )
        for b in range(bands)
    )
    return f"""
            sh AS (
              SELECT doc_id, unnest(list_distinct([
                       array_to_string(words[i:i+2], ' ')
                       for i in range(1, greatest(len(words) - 2, 1) + 1)
                     ])) AS shingle
              FROM (SELECT doc_id, string_split({norm}, ' ') AS words
                    FROM documents) t),
            sh2 AS (SELECT * FROM sh WHERE shingle <> ''),
            sigs AS (
              SELECT doc_id,
                     {hmins}
              FROM sh2 GROUP BY doc_id),
            buckets AS (
              {band_selects}),
            cands AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM buckets a
              JOIN buckets b ON a.band = b.band AND a.sig = b.sig
                            AND a.doc_id < b.doc_id),
            mh_inter AS (
              SELECT c.doc_a, c.doc_b, count(*) AS n_inter
              FROM cands c
              JOIN sh2 a ON a.doc_id = c.doc_a
              JOIN sh2 b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
              GROUP BY c.doc_a, c.doc_b),
            mh_sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
            mh_pairs AS (
              SELECT i.doc_a, i.doc_b,
                     n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
              FROM mh_inter i
              JOIN mh_sizes sa ON sa.doc_id = i.doc_a
              JOIN mh_sizes sb ON sb.doc_id = i.doc_b
              WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= {threshold})"""


def _simhash_sql(max_hamming: int = 3) -> str:
    """SQL twin of kgspark.dataops.simhash + simhash_near_dup: 64-bit
    per-token md5 (first 8 bytes big-endian, same as Python
    int.from_bytes(md5[:8])), bit votes, sign signature, 16-bit band
    blocking, popcount verification. Pure integer math -> bit-exact
    across engines."""
    n_bands = max_hamming + 1
    width = 64 // n_bands
    vote_cols = ",\n                     ".join(
        f"sum(CASE WHEN ((h >> {j}) & 1) = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(64)
    )
    coalesced = ",\n                     ".join(
        # a doc with zero tokens has zero votes on every bit -> all
        # sign bits set (matches the Python all-ones signature)
        f"coalesce(v{j}, 0) AS v{j}" for j in range(64)
    )
    sig_sum = "\n                       + ".join(
        # literal powers of two: DuckDB's << range-checks 1 << 63
        f"(CASE WHEN v{j} >= 0 THEN {1 << j}::UBIGINT ELSE 0::UBIGINT END)"
        for j in range(64)
    )
    band_selects = "\n              UNION ALL\n              ".join(
        f"SELECT doc_id, usig, {b} AS band,"
        f" ((usig >> {b * width}) & {(1 << width) - 1}) AS key FROM sigs"
        for b in range(n_bands)
    )
    return f"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '')) AS tok
              FROM documents),
            th AS (
              SELECT doc_id,
                     ('0x' || substring(md5(tok), 1, 16))::UBIGINT AS h
              FROM toks),
            votes AS (
              SELECT doc_id,
                     {vote_cols}
              FROM th GROUP BY doc_id),
            fullvotes AS (
              SELECT d.doc_id,
                     {coalesced}
              FROM documents d LEFT JOIN votes USING (doc_id)),
            sigs AS (
              SELECT doc_id,
                     ({sig_sum}) AS usig
              FROM fullvotes),
            banded AS (
              {band_selects}),
            sh_pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     bit_count(xor(a.usig, b.usig)) AS hamming
              FROM banded a
              JOIN banded b ON a.band = b.band AND a.key = b.key
                           AND a.doc_id < b.doc_id)
            SELECT doc_a, doc_b, hamming
            FROM sh_pairs WHERE hamming <= {max_hamming}
    """


def _lsh_planes_sql() -> tuple[str, str]:
    """Inline the exact seeded Gaussian planes used by
    kgspark.dataops.embedding_near_dup_lsh (n_planes=16, bands=8,
    seed=42, dim=64) and build the bit + band-key CTE SQL."""
    from kgspark.dataops import _random_planes

    planes = _random_planes(16, 64, 42)
    width = 16 // 8
    bit_cols = ",\n                     ".join(
        "CASE WHEN list_sum(list_transform(list_zip(embedding, [{vals}]),"
        " x -> CAST(x[1] AS DOUBLE) * x[2])) >= 0 THEN 1 ELSE 0 END AS b{p}".format(
            vals=", ".join(repr(v) for v in plane), p=p
        )
        for p, plane in enumerate(planes)
    )
    band_selects = "\n              UNION ALL\n              ".join(
        "SELECT vec_id, {b} AS band, {key} AS key FROM bits".format(
            b=b,
            key=" + ".join(
                f"b{b * width + r} * {1 << r}" for r in range(width)
            ),
        )
        for b in range(8)
    )
    return bit_cols, band_selects


_LANG_MARKER_SQL = {
    "de": "'der','die','das','und','nicht'",
    "en": "'the','and','of','to','in'",
    "es": "'el','la','los','que','de'",
    "fr": "'le','la','les','et','des'",
    "zh": "'的','是','了','在','我'",
}


def _hits(lang: str) -> str:
    return (
        "len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9一-鿿]+'),"
        f" x -> x IN ({_LANG_MARKER_SQL[lang]})))"
    )


def _kmeans_cluster_sql(k: int = 4, dim: int = 64) -> str:
    """Unrolled two-iteration spherical k-means in DuckDB SQL —
    mirrors kgspark.dataops.kmeans_train(k, n_iter=2) bit-for-bit:
    init = first k embeddings by vec_id; assignment = argmax cosine
    with first-max-wins tie-break (row_number ORDER BY ccos DESC,
    cell == array_position(scores, array_max)); update = per-dimension
    AVG of members (spherical k-means skips re-normalization — cosine
    assignment is scale-invariant, which is what keeps the update
    exactly SQL-expressible)."""
    cos0 = _cos_sql("e.embedding", "c.cv", guard_b=True)

    def assign_block(i: int, cents: str) -> str:
        return f"""
            s{i} AS (
              SELECT e.vec_id, e.embedding, c.cell, {cos0} AS ccos
              FROM embeddings e CROSS JOIN {cents} c),
            a{i} AS (
              SELECT vec_id, embedding, cell, ccos FROM (
                SELECT vec_id, embedding, cell, ccos,
                       row_number() OVER (
                         PARTITION BY vec_id ORDER BY ccos DESC, cell
                       ) AS rn
                FROM s{i}) t
              WHERE rn = 1)"""

    def update_block(i: int) -> str:
        # LEFT JOIN back to the previous centroid set: an emptied cell
        # keeps its prior centroid (kmeans_train: cents[c] fallback),
        # instead of silently disappearing from the oracle
        return f"""
            m{i} AS (
              SELECT a.cell, r.range AS pos,
                     avg(CAST(a.embedding[r.range] AS DOUBLE)) AS v
              FROM a{i} a, range(1, {dim + 1}) r
              GROUP BY a.cell, r.range),
            cents{i} AS (
              SELECT p.cell, coalesce(u.cv, p.cv) AS cv
              FROM cents{i - 1} p
              LEFT JOIN (SELECT cell, list(v ORDER BY pos) AS cv
                         FROM m{i} GROUP BY cell) u
                ON u.cell = p.cell)"""

    return f"""
            WITH cents0 AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                     embedding AS cv
              FROM (SELECT vec_id, embedding FROM embeddings
                    ORDER BY vec_id LIMIT {k})),
            {assign_block(1, 'cents0')},
            {update_block(1)},
            {assign_block(2, 'cents1')},
            {update_block(2)},
            {assign_block(3, 'cents2')}
            SELECT cell, count(*) AS n_members,
                   round(avg(ccos), 6) AS avg_cos
            FROM a3 GROUP BY cell
    """


def oracle_sql() -> dict[str, str]:
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    lang_hits = ", ".join(f"{_hits(l)} AS h_{l}" for l in sorted(_LANG_MARKER_SQL))
    lang_best = "greatest(h_de, h_en, h_es, h_fr, h_zh)"
    lang_case = (
        "CASE "
        + " ".join(
            f"WHEN h_{l} = {lang_best} THEN '{l}'"
            for l in sorted(_LANG_MARKER_SQL)
        )
        + " END"
    )
    oracles = {
        "dedup_lastwins": """
            SELECT user_id, last_event_type, n_events, max_value FROM (
              SELECT user_id, event_type AS last_event_type,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                     ) AS rn,
                     count(*) OVER (PARTITION BY user_id) AS n_events,
                     max(value) OVER (PARTITION BY user_id) AS max_value
              FROM events) t
            WHERE rn = 1
        """,
        "endpoint_semi_join": """
            SELECT l_returnflag, count(*) AS n_rows
            FROM lineitem l
            WHERE EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
              AND EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
            GROUP BY l_returnflag
        """,
        "khop_join": """
            SELECT r_name, count(*) AS n_suppliers
            FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r_name
        """,
        "top_customers": """
            SELECT c_custkey, c_name, count(*) AS n_orders
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY n_orders DESC, c_custkey
            LIMIT 10
        """,
        "events_stats": """
            SELECT event_type, count(*) AS n_events,
                   min(value) AS min_value, max(value) AS max_value
            FROM events GROUP BY event_type
        """,
        "active_inactive_customers": """
            SELECT c_custkey, 'active' AS status FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
            UNION ALL
            SELECT c_custkey, 'inactive' AS status FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "top_events_per_user": """
            SELECT user_id, event_id, event_type, value, rn FROM (
              SELECT user_id, event_id, event_type, value,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY value DESC, event_id
                     ) AS rn
              FROM events) t
            WHERE rn <= 2
        """,
        "orders_rollup": """
            SELECT coalesce(o_orderstatus, 'ALL') AS status,
                   coalesce(o_orderpriority, 'ALL') AS priority,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "exact_dedup": f"""
            SELECT md5({norm}) AS fingerprint,
                   min(doc_id) AS keep_doc_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        "doc_fingerprint": f"""
            SELECT doc_id, md5({norm}) AS fingerprint FROM documents
        """,
        "token_stats": r"""
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+'))
                   END::BIGINT AS n_ws_tokens,
                   length(text)::BIGINT AS n_chars,
                   (len(regexp_split_to_array(lower(text),
                        '[a-z]+|[0-9]+|[^a-z0-9\s]')) - 1)::BIGINT AS n_bpe_pieces
            FROM documents
        """,
        "quality_scores": r"""
            SELECT doc_id,
                   length(text)::BIGINT AS n_chars,
                   len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_words,
                   round((length(text) - length(regexp_replace(text,
                       '[.!?,;:''"()\-]', '', 'g')))
                     / greatest(length(text), 1), 6) AS punct_ratio,
                   round(len(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z0-9一-鿿]+'),
                       x -> x IN ('the','and','of','to','in')))
                     / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1),
                     6) AS stopword_ratio,
                   round((length(text)
                       - (len(regexp_split_to_array(trim(text), '\s+')) - 1))
                     / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1),
                     6) AS mean_word_len
            FROM documents
        """,
        "lang_id": f"""
            SELECT doc_id, lang, {lang_case} AS pred_lang,
                   {lang_best}::BIGINT AS marker_hits
            FROM (SELECT doc_id, lang, {lang_hits} FROM documents) t
        """,
        "ann_cosine_topk": f"""
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id, round({_COS_SQL}, 6) AS score
            FROM embeddings, q
            ORDER BY {_COS_SQL} DESC, vec_id
            LIMIT 10
        """,
        "ann_filtered_topk": f"""
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            cand AS (
              SELECT e.* FROM embeddings e
              SEMI JOIN (SELECT doc_id FROM documents
                         WHERE lang = 'en') d
                ON e.vec_id = d.doc_id
            )
            SELECT vec_id, round({_COS_SQL}, 6) AS score
            FROM cand, q
            ORDER BY {_COS_SQL} DESC, vec_id
            LIMIT 10
        """,
        "hybrid_fusion_topk": f"""
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            vec AS (
              SELECT vec_id, {_COS_SQL} AS score
              FROM embeddings, q
              ORDER BY score DESC, vec_id LIMIT 20),
            kw AS (
              SELECT doc_id AS vec_id,
                     (len(regexp_split_to_array(lower(text), '\\bspark\\b')) - 1)::DOUBLE
                       AS score
              FROM documents
              WHERE (len(regexp_split_to_array(lower(text), '\\bspark\\b')) - 1) > 0
              ORDER BY score DESC, vec_id LIMIT 20),
            vecn AS (  -- normalize BEFORE the join: DuckDB least/greatest
                       -- skip NULLs, so post-join normalization of a
                       -- missing side would yield 1.0 instead of 0.0
              SELECT vec_id,
                     greatest(0.0, least(1.0, (1.0 + score) / 2.0)) AS vector_score
              FROM vec),
            kwn AS (
              SELECT vec_id,
                     greatest(0.0, least(1.0, score / 10.0)) AS keyword_score
              FROM kw),
            fused AS (
              SELECT coalesce(vecn.vec_id, kwn.vec_id) AS vec_id,
                     coalesce(vector_score, 0.0) AS vector_score,
                     coalesce(keyword_score, 0.0) AS keyword_score
              FROM vecn FULL OUTER JOIN kwn ON vecn.vec_id = kwn.vec_id)
            SELECT vec_id, round(vector_score, 6) AS vector_score,
                   round(keyword_score, 6) AS keyword_score,
                   round(vector_score * 0.7 + keyword_score * 0.3, 6)
                     AS combined_score
            FROM fused
            ORDER BY vector_score * 0.7 + keyword_score * 0.3 DESC, vec_id
            LIMIT 10
        """,
        "embedding_near_dup": """
            -- zero-norm guard mirrors kgspark.dataops.pair_cosine: a
            -- zero-norm vector scores 0.0, never NaN (DuckDB sorts NaN
            -- above every number, so an unguarded 0/0 would pass >= 0.4)
            WITH e AS (SELECT vec_id, embedding FROM embeddings),
            p AS (
              SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                     list_sum(list_transform(list_zip(a.embedding, b.embedding),
                              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                       AS dot,
                     sqrt(list_sum(list_transform(a.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
                     sqrt(list_sum(list_transform(b.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
              FROM e a JOIN e b ON a.vec_id < b.vec_id),
            c AS (
              SELECT vec_a, vec_b,
                     CASE WHEN na > 0 AND nb > 0 THEN dot / (na * nb)
                          ELSE 0.0 END AS cosine
              FROM p)
            SELECT vec_a, vec_b, round(cosine, 6) AS cosine
            FROM c WHERE cosine >= 0.4
        """,
        "ngram_jaccard": f"""
            WITH sh AS (
              SELECT doc_id, unnest(list_distinct([
                       array_to_string(words[i:i+2], ' ')
                       for i in range(1, greatest(len(words) - 2, 1) + 1)
                     ])) AS shingle
              FROM (SELECT doc_id,
                           string_split({norm}, ' ') AS words
                    FROM documents) t
            ),
            sh2 AS (SELECT * FROM sh WHERE shingle <> ''),
            pairs AS (
              SELECT doc_id AS doc_a, doc_id + 1 AS doc_b FROM documents
              WHERE doc_id % 10 = 0),
            inter AS (
              SELECT p.doc_a, p.doc_b, count(*) AS n_inter
              FROM pairs p
              JOIN sh2 a ON a.doc_id = p.doc_a
              JOIN sh2 b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
              GROUP BY p.doc_a, p.doc_b),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id)
            SELECT i.doc_a, i.doc_b,
                   round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
        """,
        "corpus_filter": f"""
            WITH keep_ids AS (
              SELECT md5({norm}) AS fingerprint,
                     min(doc_id) AS keep_doc_id
              FROM documents GROUP BY 1),
            scored AS (
              SELECT d.doc_id, k.keep_doc_id,
                     length(d.text) AS n_chars,
                     len(regexp_split_to_array(trim(d.text), '\\s+')) AS n_words,
                     (length(d.text) - length(regexp_replace(d.text,
                         '[.!?,;:''"()\\-]', '', 'g')))
                       / greatest(length(d.text), 1) AS punct_ratio
              FROM documents d
              JOIN keep_ids k ON md5({norm.replace("text", "d.text")}) = k.fingerprint),
            reasons AS (
              SELECT doc_id,
                     CASE WHEN doc_id <> keep_doc_id THEN 'duplicate'
                          WHEN n_chars < 200 THEN 'too_short'
                          WHEN n_words < 30 THEN 'too_few_words'
                          WHEN punct_ratio > 0.10 THEN 'too_much_punct'
                          ELSE 'ok' END AS reason
              FROM scored)
            SELECT doc_id, (reason = 'ok') AS keep, reason FROM reasons
        """,
        "stratified_sample": """
            -- same md5/15-hex-char 64-bit hash as the Spark
            -- hash_bucket (conv(substring(md5(key),1,15),16,10))
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100
                  < CASE WHEN lang = 'en' THEN 50
                         WHEN lang = 'zh' THEN 30
                         ELSE 20 END
        """,
        "repetition_stats": f"""
            WITH base AS (
              SELECT doc_id, string_split({norm}, ' ') AS words
              FROM documents
            ),
            wc AS (
              SELECT doc_id, word, count(*) AS c
              FROM (SELECT doc_id, unnest(words) AS word FROM base) t
              WHERE word <> ''
              GROUP BY 1, 2
            ),
            word_stats AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
                     count(*) AS n_distinct, max(c) AS top_c
              FROM wc GROUP BY 1
            ),
            bi AS (
              SELECT doc_id,
                     [array_to_string(words[i:i+1], ' ')
                      for i in range(1, greatest(len(words) - 1, 1) + 1)
                     ] AS bigrams
              FROM base
            ),
            bigram_stats AS (
              SELECT doc_id, len(bigrams) AS n_bigrams,
                     len(list_distinct(bigrams)) AS n_distinct_bigrams
              FROM bi
            )
            SELECT w.doc_id,
                   w.n_words,
                   round(w.top_c * 1.0 / w.n_words, 6) AS top_word_frac,
                   round(w.n_distinct * 1.0 / w.n_words, 6)
                     AS distinct_word_ratio,
                   round(1.0 - b.n_distinct_bigrams * 1.0 / b.n_bigrams, 6)
                     AS dup_bigram_frac
            FROM word_stats w JOIN bigram_stats b USING (doc_id)
        """,
        "paragraph_dedup": f"""
            -- 4-word-window paragraphs; drop every copy of any
            -- paragraph seen in >=2 distinct docs (CCNet semantics)
            WITH base AS (
              SELECT doc_id, string_split({norm}, ' ') AS words
              FROM documents
            ),
            plist AS (
              SELECT doc_id,
                     [array_to_string(words[(i-1)*4+1:(i-1)*4+4], ' ')
                      for i in range(
                        1, CAST(ceil(len(words) / 4.0) AS INT) + 1)
                     ] AS paras
              FROM base
            ),
            paras AS (
              SELECT doc_id, i - 1 AS pos, paras[i] AS para,
                     md5(paras[i]) AS para_hash
              FROM plist, unnest(range(1, len(paras) + 1)) AS t(i)
            ),
            dup AS (
              SELECT para_hash
              FROM (SELECT DISTINCT para_hash, doc_id FROM paras)
              GROUP BY 1 HAVING count(*) >= 2
            ),
            kept AS (
              SELECT doc_id, pos, para FROM paras
              ANTI JOIN dup USING (para_hash)
            ),
            totals AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras
              FROM paras GROUP BY 1
            ),
            rebuilt AS (
              SELECT doc_id, count(*) AS n_kept,
                     md5(string_agg(para, chr(10) ORDER BY pos))
                       AS clean_md5
              FROM kept GROUP BY 1
            )
            SELECT t.doc_id, t.n_paras,
                   CAST(t.n_paras - COALESCE(r.n_kept, 0) AS BIGINT)
                     AS n_dropped,
                   COALESCE(r.clean_md5, md5('')) AS clean_md5
            FROM totals t LEFT JOIN rebuilt r USING (doc_id)
        """,
        "unigram_lm_score": f"""
            WITH words AS (
              SELECT doc_id, word FROM (
                SELECT doc_id,
                       unnest(string_split({norm}, ' ')) AS word
                FROM documents) t
              WHERE word <> ''
            ),
            tf AS (
              SELECT doc_id, word, count(*) AS tf
              FROM words GROUP BY 1, 2
            ),
            lm AS (SELECT word, count(*) AS c FROM words GROUP BY 1),
            tot AS (SELECT sum(c) AS total FROM lm),
            s AS (
              SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
                     sum(tf * -ln(c * 1.0 / total)) / sum(tf) AS anlp
              FROM tf JOIN lm USING (word), tot GROUP BY 1
            )
            SELECT doc_id, n_tokens, round(anlp, 6) AS avg_neg_logp,
                   round(exp(anlp), 6) AS ppl
            FROM s
        """,
        "quality_classifier": f"""
            -- same md5/15-hex 64-bit bucket hash as Spark hash_bucket;
            -- pseudo-weights: Knuth-hash of bucket id mapped to
            -- ~[-1,1] with a power-of-two denominator (binary-exact,
            -- so the weighted sum is partition-order-independent)
            WITH w AS (
              SELECT i AS bucket,
                     ((i * 2654435761) % 2049 - 1024) / 1024.0 AS weight
              FROM range(0, 4096) t(i)
            ),
            words AS (
              SELECT doc_id, word FROM (
                SELECT doc_id,
                       unnest(string_split({norm}, ' ')) AS word
                FROM documents) t
              WHERE word <> ''
            ),
            feats AS (
              SELECT doc_id,
                     ('0x' || substring(md5(word), 1, 15))::BIGINT
                       % 4096 AS bucket,
                     count(*) AS tf
              FROM words GROUP BY 1, 2
            ),
            s AS (
              SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
                     sum(tf * weight) / sum(tf) AS raw
              FROM feats JOIN w USING (bucket) GROUP BY 1
            )
            SELECT doc_id, n_tokens, round(raw, 6) AS raw_score,
                   round(1.0 / (1.0 + exp(-raw)), 6) AS quality_prob
            FROM s
        """,
        "winnow_fingerprint": f"""
            WITH {_winnow_fp_cte(norm)}
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps,
                   md5(array_to_string(list_sort(list(fp)), ','))
                     AS sketch_hash
            FROM fps GROUP BY doc_id
        """,
        "winnow_near_dup": f"""
            WITH {_winnow_fp_cte(norm)},
            rare AS (
              SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 8
            ),
            kept AS (SELECT f.* FROM fps f JOIN rare r ON f.fp = r.fp)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM kept a JOIN kept b
              ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING count(*) >= 2
        """,
        "pii_scrub": r"""
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
                     AS n_email,
                   len(regexp_extract_all(text,
                       '\+?[0-9][0-9()\-\s]{7,}[0-9]')) AS n_phone,
                   len(regexp_extract_all(text,
                       '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ipv4,
                   md5(regexp_replace(regexp_replace(regexp_replace(text,
                       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
                       '<EMAIL>', 'g'),
                       '\+?[0-9][0-9()\-\s]{7,}[0-9]', '<PHONE>', 'g'),
                       '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'))
                     AS scrubbed_fingerprint
            FROM documents
        """,
        "value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type
        """,
        "ngram_contamination": f"""
            WITH base AS (
              SELECT doc_id, string_split({norm}, ' ') AS words
              FROM documents
            ),
            sh AS (
              SELECT doc_id, unnest(list_distinct(
                       [array_to_string(words[i:i+7], ' ')
                        for i in range(1, greatest(len(words) - 7, 1) + 1)]
                     )) AS shingle
              FROM base
            ),
            sh2 AS (SELECT * FROM sh WHERE shingle <> ''),
            eval_sh AS (
              SELECT DISTINCT shingle FROM sh2 WHERE doc_id % 97 = 0
            ),
            hits AS (
              SELECT t.doc_id, count(*) AS n_shingles,
                     count(e.shingle) AS n_contaminated
              FROM (SELECT * FROM sh2 WHERE doc_id % 97 <> 0) t
              LEFT JOIN eval_sh e ON t.shingle = e.shingle
              GROUP BY 1
            )
            SELECT doc_id, n_shingles, n_contaminated,
                   round(n_contaminated * 1.0 / n_shingles, 6)
                     AS contaminated_frac,
                   n_contaminated > 0 AS is_contaminated
            FROM hits
        """,
        "nfc_fingerprints": """
            SELECT doc_id,
                   md5(nfc_normalize(text)) AS nfc_fingerprint,
                   text <> nfc_normalize(text) AS changed
            FROM documents
        """,
        "quantized_embeddings": """
            WITH s AS (
              SELECT vec_id, embedding,
                     list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
              FROM embeddings),
            q AS (
              SELECT vec_id, scale,
                     list_transform(embedding,
                       x -> CASE WHEN scale > 0 THEN
                              greatest(-127, least(127,
                                CAST(round(CAST(x AS DOUBLE) / scale)
                                     AS BIGINT)))
                            ELSE 0 END) AS codes
              FROM s)
            SELECT vec_id, round(scale, 9) AS scale,
                   CAST(list_sum(codes) AS BIGINT) AS q_sum,
                   CAST(list_min(codes) AS BIGINT) AS q_min,
                   CAST(list_max(codes) AS BIGINT) AS q_max,
                   CAST(len(list_filter(codes, c -> abs(c) = 127))
                        AS BIGINT) AS n_sat
            FROM q
        """,
        "pack_docs": """
            WITH RECURSIVE b AS (
              SELECT doc_id,
                     ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                       % 16 AS bucket,
                     CAST(n_chars AS BIGINT) AS cost
              FROM documents),
            d AS (
              SELECT doc_id, bucket, cost,
                     row_number() OVER (
                       PARTITION BY bucket ORDER BY doc_id
                     ) AS pos
              FROM b),
            steps AS (
              SELECT bucket, pos, doc_id, cost,
                     CAST(0 AS BIGINT) AS bin_idx, cost AS bin_fill
              FROM d WHERE pos = 1
              UNION ALL
              SELECT d.bucket, d.pos, d.doc_id, d.cost,
                     CASE WHEN s.bin_fill + d.cost > 2000
                          THEN s.bin_idx + 1 ELSE s.bin_idx END,
                     CASE WHEN s.bin_fill + d.cost > 2000
                          THEN d.cost ELSE s.bin_fill + d.cost END
              FROM steps s JOIN d
                ON d.bucket = s.bucket AND d.pos = s.pos + 1)
            SELECT doc_id, bucket, cost, bin_idx, bin_fill FROM steps
        """,
        "batch_ann_topk": f"""
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS qvec
              FROM embeddings WHERE vec_id < 5
            ),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     {_pair_cos_sql('q.qvec', 'e.embedding')} AS cos
              FROM q CROSS JOIN embeddings e
            )
            SELECT query_id, vec_id, round(cos, 6) AS score FROM (
              SELECT query_id, vec_id, cos,
                     row_number() OVER (
                       PARTITION BY query_id ORDER BY cos DESC, vec_id
                     ) AS rn
              FROM scored) t
            WHERE rn <= 3
        """,
        "events_pivot": """
            SELECT user_id,
                   count(*) FILTER (event_type = 'click')    AS n_click,
                   count(*) FILTER (event_type = 'error')    AS n_error,
                   count(*) FILTER (event_type = 'purchase') AS n_purchase,
                   count(*) FILTER (event_type = 'signup')   AS n_signup,
                   count(*) FILTER (event_type = 'view')     AS n_view
            FROM events GROUP BY user_id
        """,
        "orders_cube": """
            SELECT coalesce(o_orderstatus, 'ALL') AS status,
                   coalesce(o_orderpriority, 'ALL') AS priority,
                   count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "doc_length_histogram": """
            SELECT least(n_chars // 100, 9) AS bucket,
                   count(*) AS n_docs,
                   CAST(min(n_chars) AS BIGINT) AS min_chars,
                   CAST(max(n_chars) AS BIGINT) AS max_chars
            FROM documents GROUP BY 1
        """,
        "events_in_sessions": """
            WITH flags AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                               > 600000000
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
              SELECT user_id, ts,
                     (sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING))::BIGINT AS session_idx
              FROM flags),
            sessions AS (
              SELECT user_id, session_idx, count(*) AS n_events,
                     min(epoch_us(ts)) AS s_us, max(epoch_us(ts)) AS e_us
              FROM sess GROUP BY user_id, session_idx)
            SELECT e.event_id, e.user_id, s.session_idx, s.n_events
            FROM events e JOIN sessions s
              ON e.user_id = s.user_id
             AND epoch_us(e.ts) BETWEEN s.s_us AND s.e_us
        """,
        "asof_last_view": """
            WITH views AS (
              SELECT user_id, ts,
                     max(event_id) AS view_event_id,
                     max_by(value, event_id) AS view_value
              FROM events WHERE event_type = 'view'
              GROUP BY user_id, ts
            ),
            purchases AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase'
            )
            SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
                   v.view_event_id, round(v.view_value, 6) AS view_value
            FROM purchases p
            ASOF LEFT JOIN views v
              ON p.user_id = v.user_id AND p.ts >= v.ts
        """,
        "char_entropy": f"""
            WITH chars AS (
              SELECT doc_id, ch FROM (
                SELECT doc_id,
                       unnest(string_split({norm}, '')) AS ch
                FROM documents) t
              WHERE ch <> ''
            ),
            cc AS (
              SELECT doc_id, ch, count(*) AS c
              FROM chars GROUP BY 1, 2
            ),
            agg AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
                     sum(c * log2(c)) AS clogc
              FROM cc GROUP BY 1
            )
            SELECT doc_id, n AS n_chars_norm,
                   round(log2(n) - clogc / n, 6) AS entropy_bits
            FROM agg
        """,
        "regional_revenue": """
            SELECT n.n_name,
                   CAST(sum(CAST(round(
                     l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                     AS BIGINT)) AS BIGINT) AS revenue_cents,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA'
              AND s.s_nationkey = c.c_nationkey
            GROUP BY n.n_name
        """,
        "customer_order_distribution": """
            SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
            FROM (
              SELECT c.c_custkey,
                     CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
              FROM customer c
              LEFT JOIN orders o ON c.c_custkey = o.o_custkey
              GROUP BY c.c_custkey
            ) t
            GROUP BY n_orders
        """,
        "table_checksum": """
            -- per-column md5 tokens (NULL -> '-') concatenated, then
            -- the 60-bit row hash: same NULL-safe scheme as Spark
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(COALESCE(bit_xor(
                     ('0x' || substring(md5(concat(
                        COALESCE(md5(CAST(o_orderkey AS VARCHAR)), '-'),
                        COALESCE(md5(CAST(o_custkey AS VARCHAR)), '-'),
                        COALESCE(md5(o_orderstatus), '-'),
                        COALESCE(md5(o_orderpriority), '-'))), 1, 15)
                     )::BIGINT), 0) AS BIGINT) AS checksum
            FROM orders
        """,
        "bigram_lm_score": f"""
            -- self-trained corpus: every (w1,w2) is observed, so the
            -- seen-bigram branch p = c12/c1 always applies (the Spark
            -- backoff expression exists for scoring unseen docs)
            WITH base AS (
              SELECT doc_id, string_split({norm}, ' ') AS words
              FROM documents
            ),
            bg AS (
              SELECT doc_id, words[i] AS w1, words[i+1] AS w2
              FROM base,
                   unnest(range(1, greatest(len(words) - 1, 0) + 1))
                     AS t(i)
              WHERE words[i] <> '' AND words[i+1] <> ''
            ),
            tf AS (SELECT doc_id, w1, w2, count(*) AS tf
                   FROM bg GROUP BY 1, 2, 3),
            c12 AS (SELECT w1, w2, count(*) AS c12
                    FROM bg GROUP BY 1, 2),
            c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
            s AS (
              SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
                     sum(tf * -ln(c12 * 1.0 / c1)) / sum(tf) AS anlp
              FROM tf JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
              GROUP BY 1
            )
            SELECT doc_id, n_bigrams, round(anlp, 6) AS avg_neg_logp,
                   round(exp(anlp), 6) AS ppl
            FROM s
        """,
        "prefix_jaccard_near_dup": f"""
            -- exact prefix-filtered Jaccard join, 3-word shingles,
            -- rarest-df-first prefix of size floor((1-t)*|set|)+1
            WITH base AS (
              SELECT doc_id, string_split({norm}, ' ') AS words
              FROM documents
            ),
            sh AS (
              SELECT doc_id, unnest(list_distinct([
                       array_to_string(words[i:i+2], ' ')
                       for i in range(1, greatest(len(words) - 2, 1) + 1)
                     ])) AS tok
              FROM base
            ),
            toks AS (SELECT * FROM sh WHERE tok <> ''),
            dfc AS (SELECT tok, count(*) AS df FROM toks GROUP BY 1),
            sizes AS (
              SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1
            ),
            ranked AS (
              SELECT t.doc_id, t.tok, s.sz,
                     row_number() OVER (
                       PARTITION BY t.doc_id ORDER BY d.df, t.tok
                     ) AS rnk
              FROM toks t JOIN dfc d USING (tok)
              JOIN sizes s USING (doc_id)
            ),
            pre AS (
              SELECT doc_id, tok FROM ranked
              WHERE rnk <= floor((1.0 - 0.5) * sz) + 1
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM pre a JOIN pre b
                ON a.tok = b.tok AND a.doc_id < b.doc_id
            ),
            inter AS (
              SELECT c.doc_a, c.doc_b, count(*) AS n_inter
              FROM cand c
              JOIN toks ta ON ta.doc_id = c.doc_a
              JOIN toks tb ON tb.doc_id = c.doc_b
                          AND tb.tok = ta.tok
              GROUP BY 1, 2
            )
            SELECT i.doc_a, i.doc_b,
                   round(i.n_inter * 1.0
                         / (sa.sz + sb.sz - i.n_inter), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
            -- filter on the ROUNDED value, same as the Spark plan
            WHERE round(i.n_inter * 1.0
                        / (sa.sz + sb.sz - i.n_inter), 6) >= 0.5
        """,
        "weighted_sample": """
            -- A-ES weighted sampling: same md5/15-hex uniform as
            -- Spark hash_bucket; 1152921504606846977.0 parses to the
            -- same double (2^60) in both engines
            WITH s AS (
              SELECT doc_id, n_chars AS weight,
                     ln((('0x' || substring(
                            md5(CAST(doc_id AS VARCHAR)), 1, 15)
                          )::BIGINT + 1.0)
                        / 1152921504606846977.0) / n_chars AS sk
              FROM documents WHERE n_chars > 0
            )
            SELECT doc_id, weight, round(sk, 6) AS sample_key
            FROM (SELECT * FROM s ORDER BY sk DESC, doc_id LIMIT 100) t
        """,
        "corpus_curation": f"""
            -- dedup -> quality classifier (same weights/buckets as
            -- the standalone oracle) restricted to survivors -> p25
            -- cutoff via quantile_cont (matches Spark percentile) ->
            -- A-ES weighted sample
            WITH fp AS (
              SELECT doc_id, md5({norm}) AS f FROM documents
            ),
            keepers AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
            w AS (
              SELECT i AS bucket,
                     ((i * 2654435761) % 2049 - 1024) / 1024.0 AS weight
              FROM range(0, 4096) t(i)
            ),
            words AS (
              SELECT doc_id, word FROM (
                SELECT d.doc_id,
                       unnest(string_split({norm}, ' ')) AS word
                FROM documents d
                SEMI JOIN keepers k ON d.doc_id = k.doc_id) t
              WHERE word <> ''
            ),
            feats AS (
              SELECT doc_id,
                     ('0x' || substring(md5(word), 1, 15))::BIGINT
                       % 4096 AS bucket,
                     count(*) AS tf
              FROM words GROUP BY 1, 2
            ),
            qc AS (
              SELECT doc_id, sum(tf * weight) / sum(tf) AS raw
              FROM feats JOIN w USING (bucket) GROUP BY 1
            ),
            qc2 AS (
              -- sigmoid of the UNROUNDED raw, rounded once — same as
              -- quality_classifier's output contract
              SELECT doc_id,
                     round(1.0 / (1.0 + exp(-raw)), 6) AS quality_prob
              FROM qc
            ),
            thr AS (
              SELECT quantile_cont(quality_prob, 0.25) AS t FROM qc2
            ),
            keep AS (
              SELECT doc_id, quality_prob FROM qc2, thr
              WHERE quality_prob >= t
            ),
            samp AS (
              SELECT doc_id, quality_prob AS weight,
                     ln((('0x' || substring(
                            md5(CAST(doc_id AS VARCHAR)), 1, 15)
                          )::BIGINT + 1.0)
                        / 1152921504606846977.0) / quality_prob AS sk
              FROM keep WHERE quality_prob > 0
            )
            SELECT doc_id, weight, round(sk, 6) AS sample_key
            FROM (SELECT * FROM samp ORDER BY sk DESC, doc_id
                  LIMIT 50) t
        """,
        "data_quality_report": """
            SELECT 'custkey_not_null' AS check_id,
                   'not_null' AS check_type,
                   'customer' AS table_name,
                   CAST((SELECT count(*) FROM customer
                         WHERE c_custkey IS NULL) AS BIGINT)
                     AS n_violations
            UNION ALL
            SELECT 'orderkey_unique', 'unique', 'orders',
                   CAST(COALESCE((SELECT sum(c - 1) FROM (
                     SELECT count(*) AS c FROM orders
                     GROUP BY o_orderkey) t WHERE c > 1), 0) AS BIGINT)
            UNION ALL
            SELECT 'lineitem_pk_unique', 'unique', 'lineitem',
                   CAST(COALESCE((SELECT sum(c - 1) FROM (
                     SELECT count(*) AS c FROM lineitem
                     GROUP BY l_orderkey, l_linenumber) t
                     WHERE c > 1), 0) AS BIGINT)
            UNION ALL
            SELECT 'order_cust_fk', 'referential', 'orders',
                   CAST((SELECT count(*) FROM orders o
                         ANTI JOIN customer c
                           ON o.o_custkey = c.c_custkey) AS BIGINT)
            UNION ALL
            SELECT 'lineitem_order_fk', 'referential', 'lineitem',
                   CAST((SELECT count(*) FROM lineitem l
                         ANTI JOIN orders o
                           ON l.l_orderkey = o.o_orderkey) AS BIGINT)
            UNION ALL
            SELECT 'qty_range', 'range', 'lineitem',
                   CAST((SELECT count(*) FROM lineitem
                         WHERE l_quantity < 0 OR l_quantity > 100
                            OR l_quantity IS NULL) AS BIGINT)
            UNION ALL
            SELECT 'price_positive', 'range', 'orders',
                   CAST((SELECT count(*) FROM orders
                         WHERE o_totalprice < 0
                            OR o_totalprice IS NULL) AS BIGINT)
            UNION ALL
            SELECT 'status_accepted', 'accepted', 'orders',
                   CAST((SELECT count(*) FROM orders
                         WHERE o_orderstatus NOT IN ('P', 'O', 'F')
                            OR o_orderstatus IS NULL) AS BIGINT)
        """,
        "snapshot_cdc_diff": """
            -- same deterministic old/new derivation as the Spark
            -- query; row hash = md5 of unit-separator-joined values
            WITH oldt AS (
              SELECT * FROM documents WHERE doc_id % 10 <> 9
            ),
            newt AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                          ELSE text END AS text,
                     lang, source, n_chars
              FROM documents WHERE doc_id % 10 <> 0
            ),
            o AS (SELECT doc_id, md5(concat(
                         COALESCE(md5(text), '-'),
                         COALESCE(md5(lang), '-'),
                         COALESCE(md5(source), '-'),
                         COALESCE(md5(CAST(n_chars AS VARCHAR)), '-')
                       )) AS old_hash
                  FROM oldt),
            n AS (SELECT doc_id, md5(concat(
                         COALESCE(md5(text), '-'),
                         COALESCE(md5(lang), '-'),
                         COALESCE(md5(source), '-'),
                         COALESCE(md5(CAST(n_chars AS VARCHAR)), '-')
                       )) AS new_hash
                  FROM newt),
            j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                         old_hash, new_hash
                  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
            SELECT doc_id,
                   CASE WHEN old_hash IS NULL THEN 'insert'
                        WHEN new_hash IS NULL THEN 'delete'
                        ELSE 'update' END AS change,
                   COALESCE(old_hash, '') AS old_hash,
                   COALESCE(new_hash, '') AS new_hash
            FROM j
            WHERE old_hash IS NULL OR new_hash IS NULL
               OR old_hash <> new_hash
        """,
        "fuzzy_vocab_linkage": f"""
            -- BRUTE-FORCE oracle: any pair the gram blocking misses
            -- shows up as a hash mismatch
            WITH words AS (
              SELECT DISTINCT w FROM (
                SELECT unnest(string_split({norm}, ' ')) AS w
                FROM documents) t
              WHERE length(w) >= 4
            ),
            probes AS (
              SELECT DISTINCT substring(w, 1, 1) || substring(w, 3)
                       AS p
              FROM words WHERE length(w) >= 5
            )
            SELECT DISTINCT p AS l_val, w AS r_val,
                   CAST(levenshtein(p, w) AS INT) AS dist
            FROM probes, words
            WHERE levenshtein(p, w) <= 1
        """,
        "value_equidepth_hist": """
            WITH b AS (
              SELECT value,
                     ntile(10) OVER (ORDER BY value, event_id)
                       AS bucket
              FROM events
            )
            SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
                   round(min(value), 6) AS lo,
                   round(max(value), 6) AS hi,
                   round(avg(value), 6) AS mean_value
            FROM b GROUP BY bucket
        """,
        "dsir_importance": f"""
            -- same md5/15-hex bucket hash; add-1 smoothing over all
            -- 4096 buckets for both distributions
            WITH words AS (
              SELECT doc_id, word FROM (
                SELECT doc_id,
                       unnest(string_split({norm}, ' ')) AS word
                FROM documents) t
              WHERE word <> ''
            ),
            feats AS (
              SELECT doc_id,
                     ('0x' || substring(md5(word), 1, 15))::BIGINT
                       % 4096 AS bucket
              FROM words
            ),
            buckets AS (SELECT i AS bucket FROM range(0, 4096) t(i)),
            tc AS (
              SELECT bucket, count(*) AS c FROM feats
              WHERE doc_id % 97 = 0 GROUP BY 1
            ),
            tdist AS (
              SELECT b.bucket,
                     (COALESCE(tc.c, 0) + 1.0)
                     / ((SELECT COALESCE(sum(c), 0) FROM tc) + 4096.0)
                       AS pt
              FROM buckets b LEFT JOIN tc USING (bucket)
            ),
            cc AS (
              SELECT bucket, count(*) AS c FROM feats GROUP BY 1
            ),
            cdist AS (
              SELECT b.bucket,
                     (COALESCE(cc.c, 0) + 1.0)
                     / ((SELECT COALESCE(sum(c), 0) FROM cc) + 4096.0)
                       AS pc
              FROM buckets b LEFT JOIN cc USING (bucket)
            ),
            ratio AS (
              SELECT bucket, ln(pt) - ln(pc) AS logratio
              FROM tdist JOIN cdist USING (bucket)
            )
            SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   round(avg(r.logratio), 6) AS importance
            FROM feats f JOIN ratio r USING (bucket)
            GROUP BY f.doc_id
        """,
        "value_moments": """
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   round(avg(value), 6) AS mean_value,
                   round(stddev_samp(value), 6) AS stddev_value,
                   round(avg(value) - quantile_cont(value, 0.5), 6)
                     AS mean_minus_median,
                   round(corr(value, (epoch_us(ts) / 3.6e9) % 24), 6)
                     AS corr_value_hour
            FROM events GROUP BY event_type
        """,
        "event_funnel": """
            WITH ev AS (
              SELECT user_id, event_type, epoch_us(ts) AS ts_us
              FROM events
            ),
            s0 AS (
              SELECT user_id, min(ts_us) AS r FROM ev
              WHERE event_type = 'signup' GROUP BY 1
            ),
            s1 AS (
              SELECT e.user_id, min(e.ts_us) AS r, min(s0.r) AS p
              FROM ev e JOIN s0 ON e.user_id = s0.user_id
              WHERE e.event_type = 'view' AND e.ts_us >= s0.r
              GROUP BY 1
            ),
            s2 AS (
              SELECT e.user_id, min(e.ts_us) AS r, min(s1.r) AS p
              FROM ev e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'purchase' AND e.ts_us >= s1.r
              GROUP BY 1
            )
            SELECT 0 AS stage_index, 'signup' AS stage,
                   CAST((SELECT count(*) FROM s0) AS BIGINT) AS n_users,
                   CAST(NULL AS DOUBLE) AS median_hours_from_prev
            UNION ALL
            SELECT 1, 'view',
                   CAST((SELECT count(*) FROM s1) AS BIGINT),
                   (SELECT round(
                      quantile_cont((r - p) / 3.6e9, 0.5), 6) FROM s1)
            UNION ALL
            SELECT 2, 'purchase',
                   CAST((SELECT count(*) FROM s2) AS BIGINT),
                   (SELECT round(
                      quantile_cont((r - p) / 3.6e9, 0.5), 6) FROM s2)
        """,
        "scd2_history": """
            WITH ev AS (
              SELECT user_id, event_type AS state,
                     epoch_us(ts) AS ts_us, event_id
              FROM events
            ),
            runs AS (
              SELECT *, CASE WHEN lag(state) OVER w IS NULL
                               OR lag(state) OVER w <> state
                        THEN 1 ELSE 0 END AS chg
              FROM ev
              WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
            ),
            runs2 AS (
              SELECT *, sum(chg) OVER (
                PARTITION BY user_id ORDER BY ts_us, event_id
              ) AS run_id
              FROM runs
            ),
            hist AS (
              SELECT user_id, run_id, min(state) AS state,
                     min(ts_us) AS valid_from_us,
                     CAST(count(*) AS BIGINT) AS n_events
              FROM runs2 GROUP BY 1, 2
            )
            SELECT user_id, state, valid_from_us,
                   COALESCE(lead(valid_from_us) OVER w2, -1)
                     AS valid_to_us,
                   (lead(valid_from_us) OVER w2 IS NULL) AS is_current,
                   n_events
            FROM hist
            WINDOW w2 AS (PARTITION BY user_id ORDER BY run_id)
        """,
        "orders_trailing_window": """
            -- trailing 30d = 2592000000000 us; avg derives from the
            -- rounded (exact, 2-decimal) sum, same as the Spark plan
            SELECT o_orderkey, o_custkey,
                   epoch_us(o_orderdate) AS order_us,
                   CAST(count(*) OVER w AS BIGINT) AS n_in_window,
                   round(sum(o_totalprice) OVER w, 2) AS trailing_sum,
                   round(round(sum(o_totalprice) OVER w, 2)
                         / (count(*) OVER w), 6) AS trailing_avg
            FROM orders
            WINDOW w AS (
              PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
              RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW
            )
        """,
        "sessionize": """
            WITH flags AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                               > 600000000
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
              SELECT user_id, ts,
                     (sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING))::BIGINT AS session_idx
              FROM flags)
            SELECT user_id, session_idx, count(*) AS n_events,
                   min(epoch_us(ts)) AS session_start_us,
                   max(epoch_us(ts)) AS session_end_us
            FROM sess GROUP BY user_id, session_idx
        """,
        "events_json_props": """
            SELECT event_type,
                   count(k) AS n_with_k,
                   sum(k)::BIGINT AS sum_k,
                   min(k) AS min_k,
                   max(k) AS max_k
            FROM (SELECT event_type,
                         json_extract_string(props, '$.k')::BIGINT AS k
                  FROM events) t
            GROUP BY event_type
        """,
        "keyword_bm25_topk": """
            -- SQL twin of kgspark.query.keyword_scores_bm25 over the
            -- index built by build_inverted_index (same [a-z0-9]+
            -- tokens): dl = sum(tf) per doc, Lucene idf, k1=1.2 b=0.75
            WITH idx AS (
              SELECT term, doc_id, count(*)::DOUBLE AS tf
              FROM (SELECT doc_id,
                           unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                             AS term
                    FROM documents) t
              GROUP BY term, doc_id),
            dl AS (SELECT doc_id, sum(tf) AS dl FROM idx GROUP BY doc_id),
            stats AS (
              SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
            dfs AS (
              SELECT term, count(*)::DOUBLE AS df
              FROM idx WHERE term IN ('data', 'query', 'spark')
              GROUP BY term),
            parts AS (
              SELECT i.doc_id,
                     ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                       * i.tf * (1.2 + 1.0)
                       / (i.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl))
                       AS part
              FROM idx i
              JOIN dfs f USING (term)
              JOIN dl d USING (doc_id)
              CROSS JOIN stats s)
            SELECT doc_id, round(sum(part), 6) AS score
            FROM parts GROUP BY doc_id
            ORDER BY sum(part) DESC, doc_id
            LIMIT 10
        """,
        "top_terms": """
            SELECT term, count(*) AS n
            FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                    AS term
                  FROM documents) t
            GROUP BY term
            ORDER BY n DESC, term
            LIMIT 50
        """,
        "ann_ivf_topk": f"""
            -- centroids = first 8 embeddings by vec_id (cell index =
            -- rank); assignment = argmax cosine with first-max-wins
            -- tie-break, matching array_position(scores, array_max);
            -- probes = top-3 cells by centroid-query cosine
            WITH cents AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                     embedding AS cv
              FROM (SELECT vec_id, embedding FROM embeddings
                    ORDER BY vec_id LIMIT 8)),
            q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            probes AS (
              SELECT cell FROM cents, q
              ORDER BY {_cos_sql('cv', 'qv')} DESC, cell
              LIMIT 3),
            scored AS (
              SELECT e.vec_id, e.embedding, c.cell,
                     {_cos_sql('e.embedding', 'c.cv', guard_b=True)} AS ccos
              FROM embeddings e CROSS JOIN cents c),
            assign AS (
              SELECT vec_id, embedding, cell FROM (
                SELECT vec_id, embedding, cell,
                       row_number() OVER (
                         PARTITION BY vec_id ORDER BY ccos DESC, cell
                       ) AS rn
                FROM scored) t
              WHERE rn = 1),
            hits AS (
              SELECT a.vec_id,
                     {_cos_sql('a.embedding', 'q.qv', guard_b=True)} AS score
              FROM assign a JOIN probes p ON a.cell = p.cell, q)
            SELECT vec_id, round(score, 6) AS score
            FROM hits ORDER BY score DESC, vec_id LIMIT 10
        """,
        "minhash_near_dup": f"""
            WITH {_minhash_pairs_ctes(norm, 0.5)}
            SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM mh_pairs
        """,
        "near_dup_clusters": f"""
            -- the md5-mode MinHash pair list (same CTEs as the
            -- minhash_near_dup oracle) closed transitively: WITH
            -- RECURSIVE reach = every (node, reachable-id) pair over
            -- the undirected near-dup edges; keep_doc_id = min reach
            WITH RECURSIVE {_minhash_pairs_ctes(norm, 0.5)},
            nd_edges AS (
              SELECT doc_a AS a, doc_b AS b FROM mh_pairs
              UNION
              SELECT doc_b AS a, doc_a AS b FROM mh_pairs),
            reach(node, r) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.b, reach.r
              FROM reach JOIN nd_edges e ON e.a = reach.node)
            SELECT node AS doc_id, min(r) AS keep_doc_id,
                   (node <> min(r)) AS is_dup
            FROM reach GROUP BY node
        """,
        "embedding_near_dup_lsh": """
            WITH e AS (SELECT vec_id, embedding FROM embeddings),
            bits AS (
              SELECT vec_id,
                     {bit_cols}
              FROM e),
            banded AS (
              {band_selects}),
            cpairs AS (
              SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
              FROM banded a
              JOIN banded b ON a.band = b.band AND a.key = b.key
                           AND a.vec_id < b.vec_id),
            cscored AS (
              SELECT c.vec_a, c.vec_b,
                     {cos} AS cosine
              FROM cpairs c
              JOIN e ea ON ea.vec_id = c.vec_a
              JOIN e eb ON eb.vec_id = c.vec_b)
            SELECT vec_a, vec_b, round(cosine, 6) AS cosine
            FROM cscored WHERE cosine >= 0.4
        """.format(
            bit_cols=_lsh_planes_sql()[0],
            band_selects=_lsh_planes_sql()[1],
            cos=_cos_sql("ea.embedding", "eb.embedding"),
        ),
    }
    # the materialized-index probe path must return exactly what the
    # inline IVF computation returns — same oracle
    oracles["ann_ivf_indexed_topk"] = oracles["ann_ivf_topk"]
    oracles["semantic_dedup_pairs"] = f"""
        -- same centroid/assignment derivation as ann_ivf_topk, then
        -- exact pair cosine within each cell (vec_a < vec_b)
        WITH cents AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                 embedding AS cv
          FROM (SELECT vec_id, embedding FROM embeddings
                ORDER BY vec_id LIMIT 8)),
        scored AS (
          SELECT e.vec_id, e.embedding, c.cell,
                 {_cos_sql('e.embedding', 'c.cv', guard_b=True)} AS ccos
          FROM embeddings e CROSS JOIN cents c),
        assign AS (
          SELECT vec_id, embedding, cell FROM (
            SELECT vec_id, embedding, cell,
                   row_number() OVER (
                     PARTITION BY vec_id ORDER BY ccos DESC, cell
                   ) AS rn
            FROM scored) t
          WHERE rn = 1)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               a.cell AS cell,
               round({_pair_cos_sql('a.embedding', 'b.embedding')}, 6)
                 AS cosine
        FROM assign a JOIN assign b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE {_pair_cos_sql('a.embedding', 'b.embedding')} >= 0.4
    """
    oracles["source_mix_report"] = f"""
        SELECT source,
               count(*)::BIGINT AS n_docs,
               count(DISTINCT md5({norm}))::BIGINT AS n_unique,
               sum(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                   END)::BIGINT AS total_ws_tokens,
               round(avg(length(text)), 6) AS avg_chars,
               round(1.0 - count(DISTINCT md5({norm}))::DOUBLE / count(*), 6)
                 AS dup_rate
        FROM documents GROUP BY source
    """
    oracles["lm_perplexity_buckets"] = f"""
        -- unigram_lm_score's derivation + corpus-percentile CASE; the
        -- thresholds cut the ROUNDED scores (bit-deterministic)
        WITH words AS (
          SELECT doc_id, word FROM (
            SELECT doc_id, unnest(string_split({norm}, ' ')) AS word
            FROM documents) t
          WHERE word <> ''
        ),
        tf AS (SELECT doc_id, word, count(*) AS tf
               FROM words GROUP BY 1, 2),
        lm AS (SELECT word, count(*) AS c FROM words GROUP BY 1),
        tot AS (SELECT sum(c) AS total FROM lm),
        s AS (SELECT doc_id,
                     round(sum(tf * -ln(c * 1.0 / total)) / sum(tf), 6)
                       AS avg_neg_logp
              FROM tf JOIN lm USING (word), tot GROUP BY 1),
        thr AS (SELECT quantile_cont(avg_neg_logp, 0.3333333333333333) AS t_head,
                       quantile_cont(avg_neg_logp, 0.6666666666666666) AS t_tail
                FROM s)
        SELECT doc_id, avg_neg_logp,
               CASE WHEN avg_neg_logp < t_head THEN 'head'
                    WHEN avg_neg_logp < t_tail THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM s, thr
    """
    oracles["collocations_pmi"] = """
        WITH toks AS (
          SELECT doc_id, i AS pos, arr[i] AS w FROM (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS arr
            FROM documents) d,
          LATERAL unnest(range(1, len(arr) + 1)) AS t(i)),
        uni AS (SELECT w, count(*)::DOUBLE AS n_w FROM toks GROUP BY 1),
        big_all AS (SELECT a.w AS a, b.w AS b, count(*)::DOUBLE AS n_ab
                    FROM toks a JOIN toks b
                      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                    GROUP BY 1, 2),
        tot AS (SELECT (SELECT sum(n_w) FROM uni) AS n_tokens,
                       (SELECT sum(n_ab) FROM big_all) AS n_bigrams)
        SELECT a, b, CAST(n_ab AS BIGINT) AS n_pair,
               round(ln((n_ab / n_bigrams) /
                        ((ua.n_w / n_tokens) * (ub.n_w / n_tokens))), 6)
                 AS pmi
        FROM big_all
        JOIN uni ua ON ua.w = big_all.a
        JOIN uni ub ON ub.w = big_all.b, tot
        WHERE n_ab >= 5
        ORDER BY pmi DESC, a, b LIMIT 25
    """
    oracles["embedding_norm_stats"] = """
        WITH s AS (SELECT len(embedding) AS dim,
                          sqrt(list_sum(list_transform(embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                            AS norm
                   FROM embeddings)
        SELECT count(*)::BIGINT AS n_vecs,
               min(dim)::BIGINT AS dim_min,
               max(dim)::BIGINT AS dim_max,
               sum(CASE WHEN norm = 0 THEN 1 ELSE 0 END)::BIGINT
                 AS n_zero_norm,
               round(avg(norm), 6) AS avg_norm,
               round(min(norm), 6) AS min_norm,
               round(max(norm), 6) AS max_norm
        FROM s
    """
    oracles["kmeans_inertia"] = f"""
        -- same centroid/assignment derivation as ann_ivf_topk, keeping
        -- the winning cosine for the distance report
        WITH cents AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                 embedding AS cv
          FROM (SELECT vec_id, embedding FROM embeddings
                ORDER BY vec_id LIMIT 8)),
        scored AS (
          SELECT e.vec_id, c.cell,
                 {_cos_sql('e.embedding', 'c.cv', guard_b=True)} AS ccos
          FROM embeddings e CROSS JOIN cents c),
        assign AS (
          SELECT vec_id, cell, ccos FROM (
            SELECT vec_id, cell, ccos,
                   row_number() OVER (
                     PARTITION BY vec_id ORDER BY ccos DESC, cell
                   ) AS rn
            FROM scored) t
          WHERE rn = 1)
        SELECT cell, count(*)::BIGINT AS n_members,
               round(avg(1.0 - ccos), 6) AS avg_cos_dist
        FROM assign GROUP BY cell
    """
    oracles["value_twap"] = """
        WITH r AS (
          SELECT user_id, value,
                 lead(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) - epoch_us(ts) AS w_us
          FROM events)
        SELECT user_id, count(*)::BIGINT AS n_intervals,
               round(sum(value * w_us) / sum(w_us), 6) AS twap
        FROM r WHERE w_us IS NOT NULL GROUP BY user_id
    """
    oracles["source_overlap"] = f"""
        WITH fps AS (SELECT DISTINCT source,
                     md5(array_to_string(
                       (regexp_split_to_array({norm}, ' '))[1:5], ' '))
                       AS fp
                     FROM documents),
        sizes AS (SELECT source, count(*) AS n_fp FROM fps GROUP BY 1),
        inter AS (SELECT a.source AS source_a, b.source AS source_b,
                         count(*)::BIGINT AS n_shared
                  FROM fps a JOIN fps b
                    ON a.fp = b.fp AND a.source < b.source
                  GROUP BY 1, 2)
        SELECT source_a, source_b, n_shared,
               round(n_shared::DOUBLE / (sa.n_fp + sb.n_fp - n_shared), 6)
                 AS jaccard
        FROM inter
        JOIN sizes sa ON sa.source = inter.source_a
        JOIN sizes sb ON sb.source = inter.source_b
    """
    oracles["per_source_sample"] = """
        SELECT source, doc_id, rank FROM (
          SELECT source, doc_id,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ) AS rank
          FROM documents) t
        WHERE rank <= 3
    """
    oracles["zipf_slope"] = """
        WITH terms AS (SELECT unnest(regexp_extract_all(lower(text),
                              '[a-z0-9]+')) AS term FROM documents),
        counts AS (SELECT term, count(*)::DOUBLE AS freq
                   FROM terms GROUP BY 1),
        ranked AS (SELECT freq,
                          CAST(row_number() OVER (ORDER BY freq DESC, term)
                               AS DOUBLE) AS rank
                   FROM counts)
        SELECT round(regr_slope(ln(freq), ln(rank)), 6) AS zipf_slope,
               count(*)::BIGINT AS n_terms
        FROM ranked WHERE rank <= 300
    """
    oracles["negative_edges"] = """
        -- same co-order edges as part_triangles; bucket = md5-hash60
        -- of the node id mod 64 (engine-portable 60-bit hash)
        WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
              FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                                 AND a.l_partkey < b.l_partkey),
        nodes AS (SELECT DISTINCT v FROM
                  (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) t),
        nb AS (SELECT v,
                      ('0x' || substring(md5(CAST(v AS VARCHAR)), 1, 15))
                        ::BIGINT % 64 AS bucket
               FROM nodes),
        cand AS (SELECT x.v AS a, y.v AS b
                 FROM nb x JOIN nb y
                   ON x.bucket = y.bucket AND x.v < y.v),
        neg AS (SELECT a, b FROM cand ANTI JOIN e USING (a, b))
        SELECT a AS src, b AS dst,
               md5(CAST(a AS VARCHAR) || '|' || CAST(b AS VARCHAR))
                 AS draw_key
        FROM neg ORDER BY draw_key LIMIT 30
    """
    oracles["degree_histogram"] = """
        -- same co-order edge derivation as part_triangles
        WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
              FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                                 AND a.l_partkey < b.l_partkey),
        nbr AS (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e),
        deg AS (SELECT v, count(*) AS deg FROM nbr GROUP BY 1)
        SELECT CAST(floor(log2(deg)) AS INT) AS bucket,
               count(*)::BIGINT AS n_nodes,
               min(deg)::BIGINT AS min_deg,
               max(deg)::BIGINT AS max_deg
        FROM deg GROUP BY 1
    """
    # ann_ivf_vectorized_topk runs the ann_ivf_topk plan -> same oracle
    oracles["ann_ivf_vectorized_topk"] = oracles["ann_ivf_topk"]
    oracles["simhash_near_dup"] = _simhash_sql(max_hamming=3)
    oracles["kmeans_clusters"] = _kmeans_cluster_sql(k=4, dim=64)
    oracles["tfidf_top_terms"] = """
        WITH toks AS (
          SELECT doc_id, source AS grp,
                 unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
          FROM documents),
        nd AS (SELECT count(*) AS n FROM documents),
        tf AS (SELECT grp, term, count(*) AS tf FROM toks GROUP BY grp, term),
        dfx AS (SELECT term, count(*) AS df
                FROM (SELECT DISTINCT doc_id, term FROM toks) t
                GROUP BY term),
        scored AS (
          SELECT tf.grp, tf.term,
                 tf.tf * ln(CAST(nd.n AS DOUBLE) / dfx.df) AS raw
          FROM tf JOIN dfx ON tf.term = dfx.term CROSS JOIN nd),
        ranked AS (
          SELECT grp, term, raw,
                 row_number() OVER (
                   PARTITION BY grp ORDER BY raw DESC, term) AS rn
          FROM scored)
        SELECT grp AS source, term, round(raw, 6) AS score, rn AS rank
        FROM ranked WHERE rn <= 3
    """
    oracles["dataset_split"] = """
        -- same md5/15-hex 64-bit hash as kgspark.dataops.hash_bucket
        SELECT CASE WHEN b < 80 THEN 'train'
                    WHEN b < 90 THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM (SELECT n_chars,
                     ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                       % 100 AS b
              FROM documents) t
        GROUP BY 1
    """
    # EWMA: same unrolled lag expression, same left-to-right summation
    # order; alpha=1/2 weights are exact negative powers of two
    _lags = ",\n               ".join(
        f"lag(value, {j}) OVER w AS l{j}" for j in range(1, 10)
    )
    _terms = ["COALESCE(value * 0.5, 0)"] + [
        f"COALESCE(l{j} * {0.5 * 0.5 ** j!r}, 0)" for j in range(1, 10)
    ]
    _dens = ["CASE WHEN value IS NOT NULL THEN 0.5 ELSE 0 END"] + [
        f"CASE WHEN l{j} IS NOT NULL THEN {0.5 * 0.5 ** j!r} ELSE 0 END"
        for j in range(1, 10)
    ]
    oracles["user_value_ewma"] = f"""
        WITH b AS (
          SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
               {_lags}
          FROM events
          WINDOW w AS (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id)
        )
        SELECT event_id, user_id, ts_us, value,
               round(({' + '.join(_terms)})
                     / ({' + '.join(_dens)}), 6) AS ewma
        FROM b
    """
    oracles["part_triangles"] = """
        -- count is orientation-invariant: plain a<b<c id-order SQL
        -- verifies the degree-oriented Spark plan
        WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
              FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                                 AND a.l_partkey < b.l_partkey),
        nodes AS (SELECT count(DISTINCT v) AS n FROM
                  (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) t),
        tri AS (SELECT count(*) AS n
                FROM e e1 JOIN e e2 ON e2.a = e1.b
                          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        SELECT (SELECT n FROM nodes) AS n_nodes,
               (SELECT count(*) FROM e) AS n_edges,
               (SELECT n FROM tri) AS n_triangles
    """
    oracles["part_link_prediction"] = """
        -- Adamic-Adar over the co-order graph, deg<=128 hub cap,
        -- deterministic top-20 on (rounded score, a, b)
        WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
              FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                                 AND a.l_partkey < b.l_partkey),
        nbr AS (SELECT a AS v, b AS n FROM e
                UNION ALL SELECT b AS v, a AS n FROM e),
        deg AS (SELECT n AS hub, count(*) AS deg FROM
                (SELECT n FROM nbr) GROUP BY 1 HAVING count(*) <= 128),
        nd AS (SELECT v, n, deg FROM nbr JOIN deg ON nbr.n = deg.hub),
        wed AS (SELECT x.v AS a, y.v AS b, 1.0 / ln(x.deg) AS w
                FROM nd x JOIN nd y ON x.n = y.n AND x.v < y.v),
        cand AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
                        sum(w) AS aa
                 FROM wed GROUP BY 1, 2),
        fresh AS (SELECT c.* FROM cand c
                  ANTI JOIN e ON c.a = e.a AND c.b = e.b)
        SELECT a AS src, b AS dst, n_common, round(aa, 6) AS aa_score
        FROM fresh ORDER BY aa_score DESC, src, dst LIMIT 20
    """
    oracles["small_qty_revenue"] = """
        WITH t AS (SELECT l_partkey,
                          CAST(0.2 AS DOUBLE) * avg(l_quantity) AS qty_thresh
                   FROM lineitem GROUP BY l_partkey)
        SELECT count(*) AS n_lines,
               round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem l JOIN t ON l.l_partkey = t.l_partkey
        WHERE l.l_quantity < t.qty_thresh
    """
    oracles["ntile_spend_buckets"] = """
        WITH b AS (SELECT c_acctbal,
                          ntile(10) OVER (ORDER BY c_acctbal, c_custkey)
                            AS bucket
                   FROM customer)
        SELECT bucket, count(*) AS n_customers,
               round(sum(c_acctbal), 2) AS total_bal,
               round(min(c_acctbal), 2) AS min_bal,
               round(max(c_acctbal), 2) AS max_bal
        FROM b GROUP BY bucket
    """
    oracles["table_profile"] = """
        SELECT 'event_id' AS col_name,
               count(*) - count(event_id) AS n_nulls,
               count(DISTINCT event_id) AS n_distinct,
               min(event_id)::VARCHAR AS min_value,
               max(event_id)::VARCHAR AS max_value FROM events
        UNION ALL
        SELECT 'user_id', count(*) - count(user_id),
               count(DISTINCT user_id),
               min(user_id)::VARCHAR, max(user_id)::VARCHAR FROM events
        UNION ALL
        SELECT 'event_type', count(*) - count(event_type),
               count(DISTINCT event_type),
               min(event_type)::VARCHAR, max(event_type)::VARCHAR FROM events
        UNION ALL
        SELECT 'value', count(*) - count(value),
               count(DISTINCT value),
               min(value)::VARCHAR, max(value)::VARCHAR FROM events
    """
    oracles["min_cost_supplier"] = """
        WITH offers AS (
          SELECT l_partkey, l_suppkey,
                 min(l_extendedprice / l_quantity) AS unit_price
          FROM lineitem WHERE l_quantity > 0
          GROUP BY l_partkey, l_suppkey),
        best AS (
          SELECT l_partkey, l_suppkey, unit_price FROM (
            SELECT l_partkey, l_suppkey, unit_price,
                   row_number() OVER (
                     PARTITION BY l_partkey
                     ORDER BY unit_price, l_suppkey) AS rn
            FROM offers) t
          WHERE rn = 1)
        SELECT b.l_partkey AS partkey, s.s_name AS supplier,
               n.n_name AS nation, r.r_name AS region,
               round(b.unit_price, 6) AS best_unit_price
        FROM best b
        JOIN supplier s ON b.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
    """
    oracles["bloom_filter_join"] = """
        -- same md5/15-hex hash, 32-bit words: bit-identical filter
        WITH members AS (
          SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        mh AS (
          SELECT ('0x' || substring(
                    md5(o_custkey::VARCHAR || ':' || r.range), 1, 15)
                 )::BIGINT % 65536 AS h
          FROM members, range(0, 4) r),
        words AS (
          SELECT h // 32 AS word_idx,
                 bit_or((1::BIGINT) << CAST(h % 32 AS INT)) AS word
          FROM mh GROUP BY h // 32),
        ph AS (
          SELECT c_custkey,
                 ('0x' || substring(
                    md5(c_custkey::VARCHAR || ':' || r.range), 1, 15)
                 )::BIGINT % 65536 AS h
          FROM customer, range(0, 4) r),
        probe AS (
          SELECT p.c_custkey,
                 CASE WHEN coalesce(w.word, 0)
                        & ((1::BIGINT) << CAST(p.h % 32 AS INT)) <> 0
                      THEN 1 ELSE 0 END AS hit
          FROM ph p LEFT JOIN words w ON p.h // 32 = w.word_idx),
        flags AS (
          SELECT c.c_custkey,
                 (SELECT sum(hit) FROM probe
                  WHERE probe.c_custkey = c.c_custkey) = 4 AS pass,
                 c.c_custkey IN (SELECT o_custkey FROM members) AS is_member
          FROM customer c)
        SELECT count(*) AS n_customers,
               CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_pass,
               CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_members,
               CAST(sum(CASE WHEN pass AND NOT is_member THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_false_pos
        FROM flags
    """
    oracles["key_skew_stats"] = """
        WITH counts AS (
          SELECT user_id::VARCHAR AS key, count(*) AS n_rows
          FROM events GROUP BY 1),
        total AS (SELECT count(*) AS t FROM events),
        top AS (
          SELECT key, n_rows,
                 row_number() OVER (ORDER BY n_rows DESC, key) AS rank
          FROM counts)
        SELECT rank, key, n_rows,
               round(n_rows * 100.0 / t, 6) AS share_pct
        FROM top, total WHERE rank <= 10
    """
    oracles["zorder_cells"] = """
        WITH s AS (
          SELECT CAST(min(value) AS DOUBLE) AS vmin,
                 CAST(max(value) AS DOUBLE) AS vmax,
                 CAST(min(epoch_us(ts)) AS DOUBLE) AS tmin,
                 CAST(max(epoch_us(ts)) AS DOUBLE) AS tmax
          FROM events),
        keyed AS (
          SELECT ({interleave}) AS zvalue
          FROM events, s)
        SELECT zvalue, count(*) AS n_events FROM keyed GROUP BY zvalue
    """.format(interleave="""((((CASE WHEN s.vmax = s.vmin THEN 0 ELSE greatest(least(CAST(floor((CAST(value AS DOUBLE) - s.vmin) / (s.vmax - s.vmin) * 8.0) AS INT), 7), 0) END) // 1) % 2) * 1) + ((((CASE WHEN s.vmax = s.vmin THEN 0 ELSE greatest(least(CAST(floor((CAST(value AS DOUBLE) - s.vmin) / (s.vmax - s.vmin) * 8.0) AS INT), 7), 0) END) // 2) % 2) * 4) + ((((CASE WHEN s.vmax = s.vmin THEN 0 ELSE greatest(least(CAST(floor((CAST(value AS DOUBLE) - s.vmin) / (s.vmax - s.vmin) * 8.0) AS INT), 7), 0) END) // 4) % 2) * 16) + ((((CASE WHEN s.tmax = s.tmin THEN 0 ELSE greatest(least(CAST(floor((CAST(epoch_us(ts) AS DOUBLE) - s.tmin) / (s.tmax - s.tmin) * 8.0) AS INT), 7), 0) END) // 1) % 2) * 2) + ((((CASE WHEN s.tmax = s.tmin THEN 0 ELSE greatest(least(CAST(floor((CAST(epoch_us(ts) AS DOUBLE) - s.tmin) / (s.tmax - s.tmin) * 8.0) AS INT), 7), 0) END) // 2) % 2) * 8) + ((((CASE WHEN s.tmax = s.tmin THEN 0 ELSE greatest(least(CAST(floor((CAST(epoch_us(ts) AS DOUBLE) - s.tmin) / (s.tmax - s.tmin) * 8.0) AS INT), 7), 0) END) // 4) % 2) * 32)""")
    return oracles
