"""End-to-end golden test: Spark pipeline vs single-node oracle on the
seeded synthetic pages corpus (SURVEY.md §5.2-4).

Asserts the north-rule invariants:
  * extracted text byte-identical per url,
  * chunks identical (incl. the start_char quirk),
  * triple P/R >= 0.95 (target 1.0 with exact-name linking),
  * node set identical, canonicalization = identity under exact linking,
  * build_kg_frames and Pipeline.run (the two evaluators of the one
    stage definition) commit the same rows, under exact and lsh linking.
"""

import pytest

from kgspark.fixtures import PAGES_DDL, make_pages, pages_df
from kgspark.oracle import build_kg, extracted_text, precision_recall
from kgspark.pipeline import Pipeline, build_kg_frames

N_PAGES = 50


@pytest.fixture(scope="module")
def frames(spark):
    pages = pages_df(spark, N_PAGES, partitions=7)
    return build_kg_frames(spark, pages, link_mode="exact", salt=4)


@pytest.fixture(scope="module")
def oracle_kg():
    return build_kg(make_pages(N_PAGES))


def test_text_byte_identical(frames):
    got = {r["url"]: r["text"] for r in frames["docs"].collect()}
    pages = make_pages(N_PAGES)
    assert len(got) == N_PAGES
    for page in pages:
        assert got[page["url"]] == extracted_text(page), page["url"]


def test_chunks_match_oracle(frames, oracle_kg):
    got = sorted(
        (
            (r["url"], r["chunk_id"], r["chunk_index"], r["start_char"],
             r["end_char"], r["text"])
            for r in frames["chunks"].collect()
        )
    )
    exp = sorted(
        (
            (c["url"], c["chunk_id"], c["chunk_index"], c["start_char"],
             c["end_char"], c["text"])
            for c in oracle_kg["chunks"]
        )
    )
    assert got == exp


def test_embeddings_shape(frames):
    rows = frames["embeddings"].limit(5).collect()
    assert rows
    for r in rows:
        assert len(r["embedding"]) == 64
        norm = sum(x * x for x in r["embedding"]) ** 0.5
        assert norm == pytest.approx(1.0, abs=1e-5) or norm == 0.0


def test_triples_pr(frames, oracle_kg):
    got = {
        (r["subj"], r["pred"], r["obj"]) for r in frames["kg_edges"].collect()
    }
    p, r = precision_recall(got, oracle_kg["triples"])
    assert p >= 0.95 and r >= 0.95, (p, r, got ^ oracle_kg["triples"])
    assert p == 1.0 and r == 1.0  # exact-name linking must be lossless


def test_nodes_match_oracle(frames, oracle_kg):
    got = {r["name"]: r for r in frames["kg_nodes"].collect()}
    assert set(got) == set(oracle_kg["nodes"])
    for name, entry in oracle_kg["nodes"].items():
        assert sorted(got[name]["labels"]) == sorted(entry["labels"])
        assert dict(got[name]["properties"]) == entry["properties"]


def test_canonical_identity_under_exact_linking(frames):
    rows = frames["canonical"].collect()
    assert rows and all(r["name"] == r["canonical_id"] for r in rows)


def _run_pipeline(spark, wh, pages, monkeypatch, **params):
    """Pipeline.run, keeping the DataFrame each stage committed."""
    pipe = Pipeline(wh, **params)
    committed = {}
    commit = pipe.io.commit

    def spy(table, df, *a, **k):
        committed[table] = df
        return commit(table, df, *a, **k)

    monkeypatch.setattr(pipe.io, "commit", spy)
    pipe.run(spark, pages, "corpus")
    return pipe, committed


def _rows(df):
    return sorted(
        repr(tuple(sorted(v.items()) if isinstance(v, dict) else v for v in r))
        for r in df.collect()
    )


def _scans(df, table):
    return any(f"/{table}/" in f for f in df.inputFiles())


def test_pipeline_run_matches_frames_exact(spark, tmp_path, monkeypatch,
                                           frames):
    """Under exact linking neither evaluator joins the canonical map
    (identity by construction): Pipeline's committed kg_nodes and
    kg_edges plans scan no canonical snapshot, and its rows equal
    build_kg_frames'."""
    pipe, committed = _run_pipeline(
        spark, str(tmp_path / "wh"), pages_df(spark, N_PAGES, partitions=7),
        monkeypatch, link_mode="exact", salt=4,
    )
    for table in ("kg_nodes", "kg_edges"):
        assert _scans(committed[table], "extracted")
        assert not _scans(committed[table], "canonical")
    for table in ("canonical", "kg_nodes", "kg_edges"):
        assert _rows(pipe.io.read(spark, table)) == _rows(frames[table])


ALIAS_TEXTS = [
    "Acme Corporation sues Northwind Bank over the loan.",
    "Acme Corporatio cites Clean Air Act in the filing.",
    "Northwind Bank represents Acme Corporation in court.",
    "Globex Holdings violates Clean Air Act again.",
]


def test_pipeline_run_matches_frames_lsh(spark, tmp_path, monkeypatch):
    """Under lsh linking both evaluators merge the near-duplicate pair
    "Acme Corporation" / "Acme Corporatio" and commit the same
    canonical, kg_nodes and kg_edges rows; Pipeline's plans keep the
    canonical-map joins. The fixture corpus has no near-duplicate names,
    so these pages carry their own."""
    pages = spark.createDataFrame(
        [(f"https://example.org/alias/doc{i}", None, None, t, "en")
         for i, t in enumerate(ALIAS_TEXTS)],
        PAGES_DDL,
    )
    frames = build_kg_frames(spark, pages, link_mode="lsh")
    pipe, committed = _run_pipeline(
        spark, str(tmp_path / "wh"), pages, monkeypatch, link_mode="lsh",
    )
    cid = {r["name"]: r["canonical_id"] for r in frames["canonical"].collect()}
    assert cid["Acme Corporation"] == cid["Acme Corporatio"]
    for table in ("kg_nodes", "kg_edges"):
        assert _scans(committed[table], "canonical")
    for table in ("canonical", "kg_nodes", "kg_edges"):
        assert _rows(pipe.io.read(spark, table)) == _rows(frames[table])


def test_mentions_reference_chunks(frames):
    m = frames["mentions"]
    c = frames["chunks"]
    dangling = m.join(c, "chunk_id", "left_anti").count()
    assert dangling == 0


def test_ingest_chain_is_zero_shuffle(spark):
    """SCALE.md's core structural claim, locked as a regression test:
    S1->S4 (extract_text -> chunk -> embed -> extract) is a pure map
    chain — NO Exchange anywhere in the physical plan, so 100 TB of
    pages flows scan -> Arrow -> Python -> sink without touching the
    shuffle service."""
    from kgspark import stages
    from kgspark.fixtures import pages_df

    pages = pages_df(spark, 20)
    chunks = stages.chunk(stages.extract_text(pages))
    for df in (
        stages.embed(chunks),
        stages.raw_edges_of(stages.extract(chunks)),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_no_per_row_python_udf_anywhere():
    """input_hint mandate, locked: vectorized pandas/Arrow UDFs only —
    no row-at-a-time F.udf / @udf in any engine module."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "kgspark"
    offenders = []
    for p in sorted(root.glob("*.py")):
        src = p.read_text()
        if re.search(r"(?<!pandas_)\budf\s*\(", src.replace("@F.pandas_udf", "")
                     .replace("F.pandas_udf", "").replace("pandas_udf", "")):
            offenders.append(p.name)
    assert offenders == []
