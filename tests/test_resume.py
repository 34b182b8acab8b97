"""Checkpoint/resume (SURVEY.md §5.2-6): a re-run over the same corpus
skips every committed stage; a partially-committed warehouse resumes
from the last good snapshot; lineage rows exist per stage."""

import shutil

from kgspark.fixtures import make_pages, pages_df
from kgspark.oracle import build_kg
from kgspark.pipeline import Pipeline

N = 25
CORPUS = f"pages:n={N}:seed=42"


def test_run_then_resume_skips_all(spark, tmp_path):
    wh = str(tmp_path / "wh")
    pipe = Pipeline(wh)
    snaps1 = pipe.run(spark, pages_df(spark, N), CORPUS)
    assert pipe.last_skipped == []

    snaps2 = pipe.run(spark, None, CORPUS)  # no pages needed on resume
    assert snaps2 == snaps1
    assert set(pipe.last_skipped) == {"pages", *[t for t, _ in Pipeline.STAGES]}

    # output parity with the oracle survives the round-trip
    triples = {
        (r["subj"], r["pred"], r["obj"])
        for r in pipe.io.read(spark, "kg_edges").collect()
    }
    assert triples == build_kg(make_pages(N))["triples"]


def test_partial_resume_from_mid_stage(spark, tmp_path):
    wh = str(tmp_path / "wh2")
    pipe = Pipeline(wh)
    snaps1 = pipe.run(spark, pages_df(spark, N), CORPUS)

    # simulate a crash after `extracted` committed: wipe downstream tables
    for table in ["canonical", "kg_nodes", "kg_edges"]:
        shutil.rmtree(f"{wh}/{table}")

    pipe2 = Pipeline(wh)
    snaps2 = pipe2.run(spark, None, CORPUS)
    assert set(pipe2.last_skipped) == {
        "pages", "docs", "chunks", "embeddings", "inverted_index", "extracted"
    }
    assert snaps2["extracted"] == snaps1["extracted"]

    triples = {
        (r["subj"], r["pred"], r["obj"])
        for r in pipe2.io.read(spark, "kg_edges").collect()
    }
    assert triples == build_kg(make_pages(N))["triples"]


def test_lineage_rows_written(spark, tmp_path):
    wh = str(tmp_path / "wh3")
    pipe = Pipeline(wh)
    pipe.run(spark, pages_df(spark, N), CORPUS)
    lineage = pipe.lineage(spark).collect()
    stages_seen = {r["stage"] for r in lineage}
    assert {"docs", "chunks", "extracted", "kg_edges"} <= stages_seen
    for r in lineage:
        assert r["n_rows"] >= 0 and r["duration_ms"] >= 0
    # url counts present where the stage carries urls
    assert any(r["stage"] == "chunks" and r["n_urls"] > 0 for r in lineage)


def test_lineage_append_only_across_runs(spark, tmp_path):
    """Each run commits ONLY its own lineage delta; prior runs' rows
    are never rewritten (their snapshot files are untouched), and the
    lineage() union sees every run."""
    import glob
    import os

    wh = str(tmp_path / "wh4")
    pipe = Pipeline(wh)
    pipe.run(spark, pages_df(spark, N), CORPUS, run_id="r1")
    snap1_files = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{wh}/_lineage/s0000/*.parquet")
    }
    assert snap1_files
    # second run over a DIFFERENT corpus -> all stages rebuild
    pipe.run(spark, pages_df(spark, N + 5), f"pages:n={N + 5}:seed=42",
             run_id="r2")
    # run 1's snapshot files were not rewritten
    for p, mtime in snap1_files.items():
        assert os.path.getmtime(p) == mtime
    # run 2's delta holds only run 2; the union holds both
    last = {r["run_id"] for r in pipe.io.read(spark, "_lineage").collect()}
    assert last == {"r2"}
    all_runs = {r["run_id"] for r in pipe.lineage(spark).collect()}
    assert all_runs == {"r1", "r2"}


def test_append_equals_batch_union(spark, tmp_path):
    """Incremental uploads (reference MERGE semantics) are bit-
    equivalent to one batch run over the union corpus, re-uploaded
    urls are dropped, and an unchanged accumulation resumes."""
    full = pages_df(spark, 40)
    delta_a = pages_df(spark, 20)
    delta_b = full.join(delta_a.select("url"), "url", "left_anti")

    wa = str(tmp_path / "wh_append")
    pa = Pipeline(wa)
    pa.run_append(spark, delta_a, "d1")
    pa.run_append(spark, delta_b, "d2")

    wb = str(tmp_path / "wh_batch")
    pb = Pipeline(wb)
    pb.run(spark, full, "pages:n=40:seed=42")

    def triples(pipe):
        return {
            (r["subj"], r["pred"], r["obj"])
            for r in pipe.io.read(spark, "kg_edges").collect()
        }

    def nodes(pipe):
        return {
            (r["name"], tuple(sorted(r["labels"])))
            for r in pipe.io.read(spark, "kg_nodes").collect()
        }

    assert triples(pa) == triples(pb)
    assert nodes(pa) == nodes(pb)
    # accumulated chunks == batch chunks
    acc_chunks = {
        r["chunk_id"]
        for r in pa.io.read_accumulated(spark, "chunks").collect()
    }
    batch_chunks = {
        r["chunk_id"] for r in pb.io.read(spark, "chunks").collect()
    }
    assert acc_chunks == batch_chunks

    before = triples(pa)
    # re-uploading already-seen urls: delta dedups to empty, graph
    # unchanged
    pa.run_append(spark, delta_a, "d3")
    assert triples(pa) == before
    # idempotent re-run of a committed delta: everything resumes
    pa.run_append(spark, delta_b, "d2")
    assert set(pa.last_skipped) == {
        "pages", "docs", "chunks", "embeddings", "inverted_index",
        "extracted", "canonical", "kg_nodes", "kg_edges",
    }


def test_pipeline_curate_commits_resumes_and_logs_lineage(spark, tmp_path):
    """Round-4 directive 6: curation is a first-class optional Pipeline
    stage — committed `curated` snapshot, per-partition lineage rows,
    resume on identical input+params, recompute on changed params, and
    result identity with the oracle-green composed op run directly."""
    from pyspark.sql import functions as F

    from kgspark.dataops import curate_corpus

    wh = str(tmp_path / "wh")
    pipe = Pipeline(wh)
    pipe.run(spark, pages_df(spark, 60), "pages:n=60:seed=42")

    snap = pipe.curate(spark, k=10, threshold_pct=0.25)
    cur = pipe.io.read(spark, "curated", snap)
    got = sorted(r["doc_id"] for r in cur.collect())
    assert len(got) == 10
    assert set(cur.columns) == {"doc_id", "weight", "sample_key"}

    # identical input + params -> resumed, same snapshot, no recompute
    assert pipe.curate(spark, k=10, threshold_pct=0.25) == snap
    assert pipe.last_skipped == ["curated"]

    # changed params -> a fresh snapshot
    snap_k5 = pipe.curate(spark, k=5, threshold_pct=0.25)
    assert snap_k5 != snap
    assert pipe.io.read(spark, "curated", snap_k5).count() == 5

    # lineage rows landed with the stage name
    lin = pipe.lineage(spark).filter("stage = 'curated'")
    assert lin.count() >= 1

    # parity with the composed op run directly over the ingested docs
    docs = pipe.io.read_accumulated(spark, "docs").select(
        F.col("url").alias("doc_id"), "text"
    )
    direct = sorted(
        r["doc_id"] for r in curate_corpus(docs, k=10).collect()
    )
    assert got == direct


def test_kgctl_upload_curate_search_verbs(spark, tmp_path):
    """CLI surface smoke: upload builds the ingest-time index artifacts
    (bm25_stats + vocab_grams, resumed on re-upload), curate commits
    and resumes, and a bm25 search answers through the materialized
    stats path."""
    import argparse
    import sys

    sys.path.insert(0, "tools")
    import kgctl

    wh = str(tmp_path / "wh")
    up = argparse.Namespace(
        pages_parquet=None, synthetic_pages=40, warehouse=wh,
        chunk_size=500, chunk_overlap=100, link_mode="exact",
        clear_existing=False, append=False, corpus_id=None, run_id="r0",
    )
    out = kgctl.cmd_upload(up)
    assert out["status"] == "ok" and out["chunks_created"] > 0
    assert "bm25_stats" in out["snapshots"]
    assert "vocab_grams" in out["snapshots"]

    # re-upload: every stage AND both artifacts resume
    out2 = kgctl.cmd_upload(up)
    assert out2["snapshots"] == out["snapshots"]

    cu = argparse.Namespace(warehouse=wh, keep_fraction=0.75, k=8,
                            run_id="c0")
    cur = kgctl.cmd_curate(cu)
    assert cur["status"] == "ok" and cur["docs_kept"] == 8
    assert not cur["resumed"]
    assert kgctl.cmd_curate(cu)["resumed"]

    se = argparse.Namespace(
        query="alice works at acme", warehouse=wh, top_k=3, max_depth=1,
        no_hybrid=False, vector_weight=0.7, keyword_weight=0.3,
        fuzziness=0, keyword_model="bm25", no_cache=True,
    )
    res = kgctl.cmd_search(se)
    assert res["status"] == "ok" and res["chunks_used"] > 0


def test_second_run_compiles_no_generated_class(spark, tmp_path):
    """A second Pipeline.run in the same session compiles nothing: the
    codegen cache (session.CODEGEN_CACHE_ENTRIES) holds a whole run, and
    lineage is collected as data, so no plan carries a per-run literal
    (run 2 writes a fresh warehouse, so every stage runs again)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    Pipeline(str(tmp_path / "wh_a")).run(spark, pages_df(spark, N), CORPUS)
    before = compiles.getCount()
    pipe = Pipeline(str(tmp_path / "wh_b"))
    pipe.run(spark, pages_df(spark, N), CORPUS)
    assert pipe.last_skipped == []
    assert compiles.getCount() - before == 0
