"""kgctl — the reference CLI's three verbs (upload / search / delete)
mapped onto the Spark engine, so a user of the reference's
`python -m src.cli.main` workflow (reference src/cli/main.py:25-28,
Commands = UPLOAD | SEARCH | DELETE) can switch command-for-command:

    # reference: upload <pdf> --chunk-size 500 --chunk-overlap 100 \
    #            [--clear-existing]
    python tools/kgctl.py upload --pages-parquet <dir> --warehouse wh \
        [--chunk-size 500] [--chunk-overlap 100] [--clear-existing] \
        [--link-mode exact|lsh] [--corpus-id id]

    # reference: search "query" --top-k 5 --max-depth 2 \
    #            [--no-hybrid] [--vector-weight .7] [--keyword-weight .3]
    python tools/kgctl.py search "query text" --warehouse wh \
        [--top-k 5] [--max-depth 2] [--no-hybrid] \
        [--vector-weight 0.7] [--keyword-weight 0.3] \
        [--fuzziness 0] [--keyword-model tf|bm25] [--no-cache]

    # reference: delete
    python tools/kgctl.py delete --warehouse wh

    # engine extension (no reference counterpart): curate the uploaded
    # corpus (dedup -> quality classify -> percentile cutoff ->
    # weighted sample) into a committed, resumable `curated` snapshot
    python tools/kgctl.py curate --warehouse wh \
        [--keep-fraction 0.75] [--k 50]

Differences from the reference, by design (SURVEY.md §2):
  * upload ingests the pages table (url, warc_ts, html, text, lang)
    instead of a single PDF path — the batching flags
    (--pages-per-batch, --max-concurrent-batches) are subsumed by
    Spark partitioning (SURVEY O2-O4) and accepted-but-ignored for
    drop-in compatibility;
  * search prints the retrieval result (hits + entities + assembled
    context) without the final LLM answer (out of scope per SURVEY
    O25); `--no-cache` bypasses the TTL query cache the reference
    keeps in Redis (graphrag.py:44-64) and the engine keeps as one
    JSON record per query key under <warehouse>/_qcache/;
  * delete == kg_builder.clear_all() (reference cli/main.py:delete_all)
    == TableIO.clear_all().

Every command prints ONE JSON line to stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _dir_content_id(path: str) -> str:
    """Deterministic identity of a parquet dir's CONTENTS (sorted
    relative path + size per data file): two uploads of the same dir
    resume; a dir that gained files gets a fresh delta id."""
    import hashlib

    entries = []
    for root, _, files in os.walk(path):
        for f in sorted(files):
            if f.startswith((".", "_")):
                continue
            p = os.path.join(root, f)
            entries.append(f"{os.path.relpath(p, path)}:{os.path.getsize(p)}")
    digest = hashlib.sha256("\n".join(sorted(entries)).encode()).hexdigest()
    return f"{path}@{digest[:16]}"


def _spark(app: str):
    from kgspark.session import get_spark

    return get_spark(app)


def cmd_upload(args) -> dict:
    from pyspark.sql import functions as F

    from kgspark.io import TableIO
    from kgspark.pipeline import Pipeline

    spark = _spark("kgctl-upload")
    if args.clear_existing:
        TableIO(args.warehouse).clear_all()
    if args.pages_parquet:
        pages = spark.read.parquet(args.pages_parquet)
        if args.append and args.corpus_id is None:
            # append deltas must get a NEW id when the directory's
            # contents change, or "more files landed in the same dir,
            # re-run upload --append" silently no-ops on the
            # path-keyed resume check — derive it from the file
            # listing instead of the path
            corpus_id = f"parquet:{_dir_content_id(args.pages_parquet)}"
        else:
            corpus_id = args.corpus_id or f"parquet:{args.pages_parquet}"
    else:
        from kgspark.fixtures import pages_df

        pages = pages_df(spark, args.synthetic_pages)
        corpus_id = args.corpus_id or f"pages:n={args.synthetic_pages}:seed=42"
    pipe = Pipeline(
        args.warehouse,
        link_mode=args.link_mode,
        chunk_size=args.chunk_size,
        chunk_overlap=args.chunk_overlap,
    )
    if args.append:
        # reference MERGE semantics: this upload merges into the
        # existing graph (delta map stages + merge-stage rebuild)
        snaps = pipe.run_append(spark, pages, corpus_id, run_id=args.run_id)
        rd = lambda t: pipe.io.read_accumulated(spark, t)  # noqa: E731
    else:
        snaps = pipe.run(spark, pages, corpus_id, run_id=args.run_id)
        rd = lambda t: pipe.io.read(spark, t)  # noqa: E731
    # ingest-time query artifacts, keyed on the accumulated index
    # snapshot set (resumed on re-upload, rebuilt on a new delta):
    # BM25 doc-length stats + fuzzy-expansion vocab grams — so no
    # query ever pays a full-index aggregate or vocabulary shuffle
    snaps.update(_build_index_artifacts(spark, pipe.io))
    # the reference's completion report: chunks / entities /
    # relationships created (cli/main.py:119-123)
    return {
        "status": "ok",
        "chunks_created": rd("chunks").count(),
        "entities_extracted": pipe.io.read(spark, "kg_nodes").count(),
        "relationships_extracted": pipe.io.read(spark, "kg_edges").count(),
        "snapshots": snaps,
        "resumed_stages": pipe.last_skipped,
        "warehouse": args.warehouse,
    }


def _index_artifact_key(io) -> str:
    """Deterministic identity of the accumulated inverted index — the
    resume key for its derived artifacts (bm25_stats, vocab_grams)."""
    ids = ",".join(
        s["id"] for s in io.accumulated_snapshots("inverted_index")
    )
    return f"inverted_index:{ids}"


def _build_index_artifacts(spark, io) -> dict:
    from kgspark.io import TableIO  # noqa: F401
    from kgspark.query import build_bm25_stats, build_vocab_grams

    key = _index_artifact_key(io)
    index = io.read_accumulated(spark, "inverted_index")
    return {
        "bm25_stats": build_bm25_stats(io, index, input_key=key),
        "vocab_grams": build_vocab_grams(io, index, input_key=key),
    }


def cmd_curate(args) -> dict:
    """Optional corpus-curation stage (dedup -> quality classify ->
    percentile cutoff -> weighted sample) over an uploaded warehouse;
    commits a resumable `curated` snapshot with lineage rows."""
    from kgspark.pipeline import Pipeline

    spark = _spark("kgctl-curate")
    pipe = Pipeline(args.warehouse)
    snap = pipe.curate(
        spark, k=args.k, threshold_pct=1.0 - args.keep_fraction,
        run_id=args.run_id,
    )
    return {
        "status": "ok",
        "snapshot": snap,
        "resumed": pipe.last_skipped == ["curated"],
        "docs_kept": pipe.io.read(spark, "curated", snap).count(),
        "warehouse": args.warehouse,
    }


def cmd_search(args) -> dict:
    from kgspark.io import TableIO
    from kgspark.query import (
        build_context,
        graphrag_search,
        graphrag_search_cached,
    )
    from kgspark.stages import mentions_of

    spark = _spark("kgctl-search")
    io = TableIO(args.warehouse)
    # accumulated state: identical to read() on a batch-built warehouse,
    # and the full union on an append-maintained one
    rd = lambda t: io.read_accumulated(spark, t)  # noqa: E731
    chunks = rd("chunks")
    embeddings = rd("embeddings")
    mentions = mentions_of(rd("extracted"))
    inverted_index = rd("inverted_index")
    kg_nodes = rd("kg_nodes")
    bm25_stats = None
    if args.keyword_model == "bm25":
        # build-or-resume the ingest-time stats and query against them
        # (the per-query plan then touches only the query's term rows)
        from kgspark.query import build_bm25_stats, read_bm25_stats

        key = _index_artifact_key(io)
        snap = build_bm25_stats(io, inverted_index, input_key=key)
        bm25_stats = read_bm25_stats(io, spark, snap)
    kwargs = dict(
        top_k=args.top_k,
        max_depth=args.max_depth,
        inverted_index=inverted_index,
        fuzziness=args.fuzziness,
        keyword_model=args.keyword_model,
        kg_nodes=kg_nodes,
        hybrid=not args.no_hybrid,
        vector_weight=args.vector_weight,
        keyword_weight=args.keyword_weight,
        bm25_stats=bm25_stats,
    )
    if args.no_cache:
        out = graphrag_search(chunks, embeddings, mentions, args.query, **kwargs)
        cached = None
    else:
        out = graphrag_search_cached(
            io, chunks, embeddings, mentions, args.query, **kwargs
        )
        cached = out["cached"]
    hits = [r.asDict() for r in out["hits"].collect()]
    entities = [r.asDict() for r in out["entities"].collect()]
    context = build_context(out["hits"], out["entities"], chunks)
    return {
        "status": "ok",
        "query": args.query,
        "search_type": (
            "hybrid" if not args.no_hybrid else "vector+graph"
        ),
        "chunks_used": len(hits),
        "entities_found": len(entities),
        "hits": hits,
        "entities": entities,
        "context": context,
        "cached": cached,
    }


def cmd_delete(args) -> dict:
    from kgspark.io import TableIO

    TableIO(args.warehouse).clear_all()
    return {"status": "ok", "deleted": args.warehouse}


def main() -> None:
    ap = argparse.ArgumentParser(prog="kgctl")
    sub = ap.add_subparsers(dest="command", required=True)

    up = sub.add_parser("upload", help="build (or resume) the KG")
    src = up.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages-parquet")
    src.add_argument("--synthetic-pages", type=int)
    up.add_argument("--warehouse", required=True)
    up.add_argument("--chunk-size", type=int, default=500)
    up.add_argument("--chunk-overlap", type=int, default=100)
    up.add_argument("--link-mode", default="exact", choices=["exact", "lsh"])
    up.add_argument("--clear-existing", action="store_true")
    up.add_argument("--append", action="store_true",
                    help="merge this corpus into the existing graph "
                         "(reference MERGE semantics); map stages "
                         "process only the delta")
    up.add_argument("--corpus-id", default=None)
    up.add_argument("--run-id", default="r0")
    # accepted for reference-CLI compatibility; subsumed by Spark
    # partitioning (SURVEY O2-O4)
    up.add_argument("--pages-per-batch", type=int, default=10)
    up.add_argument("--max-concurrent-batches", type=int, default=3)
    up.set_defaults(fn=cmd_upload)

    se = sub.add_parser("search", help="GraphRAG retrieval")
    se.add_argument("query")
    se.add_argument("--warehouse", required=True)
    se.add_argument("--top-k", type=int, default=5)
    se.add_argument("--max-depth", type=int, default=2)
    se.add_argument("--no-hybrid", action="store_true")
    se.add_argument("--vector-weight", type=float, default=0.7)
    se.add_argument("--keyword-weight", type=float, default=0.3)
    se.add_argument("--fuzziness", type=int, default=0)
    se.add_argument("--keyword-model", default="tf", choices=["tf", "bm25"])
    se.add_argument("--no-cache", action="store_true")
    se.set_defaults(fn=cmd_search)

    cu = sub.add_parser(
        "curate",
        help="dedup + quality-score + cutoff + sample the uploaded "
             "corpus into a committed `curated` snapshot",
    )
    cu.add_argument("--warehouse", required=True)
    cu.add_argument("--keep-fraction", type=float, default=0.75,
                    help="fraction of the (deduped) corpus above the "
                         "self-calibrated quality cutoff")
    cu.add_argument("--k", type=int, default=50,
                    help="final sample size drawn by quality weight")
    cu.add_argument("--run-id", default="c0")
    cu.set_defaults(fn=cmd_curate)

    de = sub.add_parser("delete", help="clear the warehouse")
    de.add_argument("--warehouse", required=True)
    de.set_defaults(fn=cmd_delete)

    args = ap.parse_args()
    print(json.dumps(args.fn(args)))


if __name__ == "__main__":
    main()
