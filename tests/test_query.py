"""Query-side operators vs reference semantics (graphrag.py): score
normalization, fusion weights/ordering, k-hop expansion quirks."""

import pytest
from pyspark.sql import functions as F

from kgspark import query


def test_vector_topk_orders_and_limits(spark):
    emb = spark.createDataFrame(
        [("c0", [1.0, 0.0]), ("c1", [0.6, 0.8]), ("c2", [-1.0, 0.0])],
        "chunk_id string, embedding array<float>",
    )
    got = query.vector_topk(emb, [1.0, 0.0], k=2).collect()
    assert [r["chunk_id"] for r in got] == ["c0", "c1"]
    assert got[0]["score"] == pytest.approx(1.0)
    assert got[1]["score"] == pytest.approx(0.6)


def test_keyword_scores_tf(spark):
    chunks = spark.createDataFrame(
        [("c0", "court court contract"), ("c1", "nothing here"), ("c2", "court")],
        "chunk_id string, text string",
    )
    idx = query.build_inverted_index(chunks)
    got = {r["chunk_id"]: r["score"] for r in
           query.keyword_scores_from_index(idx, "Court contract", k=5).collect()}
    assert got == {"c0": 3.0, "c2": 1.0}


def test_keyword_query_tokenized_like_corpus(spark):
    # a punctuated query must yield the same [a-z0-9]+ terms the index
    # stores: "court, contract" used to produce the dead term "court,"
    chunks = spark.createDataFrame(
        [("c0", "court court contract"), ("c1", "nothing here")],
        "chunk_id string, text string",
    )
    idx = query.build_inverted_index(chunks)
    got = {r["chunk_id"]: r["score"] for r in
           query.keyword_scores_from_index(idx, "Court, contract!", k=5).collect()}
    assert got == {"c0": 3.0}
    assert query.query_terms("Court, contract!") == ["contract", "court"]


def test_keyword_fuzzy_recovers_typos(spark):
    # reference parity: ES fuzziness AUTO (elasticsearch_store.py:147-151)
    # — a one-edit typo ("contrct") still retrieves the intended chunk,
    # at the documented fuzzy weight; exact matches keep weight 1.0
    chunks = spark.createDataFrame(
        [("c0", "contract signed by court"), ("c1", "nothing here at all")],
        "chunk_id string, text string",
    )
    idx = query.build_inverted_index(chunks)
    exact = {r["chunk_id"]: r["score"] for r in
             query.keyword_scores_from_index(idx, "contrct", k=5).collect()}
    assert exact == {}  # exact path misses the typo entirely
    fuzzy = {r["chunk_id"]: r["score"] for r in
             query.keyword_scores_fuzzy(idx, "contrct", k=5).collect()}
    assert fuzzy == {"c0": pytest.approx(0.5)}  # tf=1 * fuzzy_weight
    # mixed query: exact term at weight 1.0 + typo'd term at 0.5
    mixed = {r["chunk_id"]: r["score"] for r in
             query.keyword_scores_fuzzy(idx, "court contrct", k=5).collect()}
    assert mixed == {"c0": pytest.approx(1.5)}


def test_vocab_grams_materialized_resume_and_parity(spark, tmp_path, monkeypatch):
    """The fuzzy blocking table is a build artifact, not per-query work:
    (a) a second build for the same input key resumes the committed
    snapshot with ZERO recompute (no new commit — the vocab is never
    re-shuffled), and (b) querying through the materialized table gives
    exactly the inline results."""
    from kgspark.io import TableIO

    chunks = spark.createDataFrame(
        [("c0", "contract signed by court"), ("c1", "nothing here at all")],
        "chunk_id string, text string",
    )
    idx = query.build_inverted_index(chunks)
    io = TableIO(str(tmp_path / "wh"))
    snap = query.build_vocab_grams(io, idx, input_key="idx:v1")

    commits = []
    orig_commit = TableIO.commit
    monkeypatch.setattr(
        TableIO, "commit",
        lambda self, *a, **k: commits.append(1) or orig_commit(self, *a, **k),
    )
    assert query.build_vocab_grams(io, idx, input_key="idx:v1") == snap
    assert commits == []  # resumed, not rebuilt

    vg = io.read(spark, "vocab_grams", snap)
    inline = sorted(
        (r["chunk_id"], round(r["score"], 9))
        for r in query.keyword_scores_fuzzy(idx, "court contrct", k=5).collect()
    )
    mat = sorted(
        (r["chunk_id"], round(r["score"], 9))
        for r in query.keyword_scores_fuzzy(
            idx, "court contrct", k=5, vocab_grams=vg
        ).collect()
    )
    assert inline == mat and len(mat) > 0


def test_fusion_reference_semantics(spark):
    # graphrag.py:117-168: vector normalized (1+s)/2, keyword s/10,
    # combined = 0.7v + 0.3k; missing side contributes 0
    v = spark.createDataFrame(
        [("a", 1.0), ("b", 0.0)], "chunk_id string, score double"
    )
    kw = spark.createDataFrame(
        [("b", 5.0), ("c", 20.0)], "chunk_id string, score double"
    )
    got = {r["chunk_id"]: r for r in query.fuse(v, kw, k=3).collect()}
    assert got["a"]["combined_score"] == pytest.approx(0.7 * 1.0)
    assert got["b"]["combined_score"] == pytest.approx(0.7 * 0.5 + 0.3 * 0.5)
    assert got["c"]["keyword_score"] == pytest.approx(1.0)  # clamped 20/10 -> 1
    assert got["c"]["combined_score"] == pytest.approx(0.3)


def test_entities_from_chunks_depth_parity_quirk(spark):
    # bipartite walk ends at entities -> max_depth=2 behaves like depth 1
    # (SURVEY.md §3.2-4, neo4j_store.py:339-345)
    mentions = spark.createDataFrame(
        [("k0", "E1"), ("k0", "E2"), ("k1", "E2"), ("k1", "E3"), ("k2", "E4")],
        "chunk_id string, name string",
    )
    d1 = {r["name"] for r in
          query.entities_from_chunks(mentions, ["k0"], max_depth=1).collect()}
    d2 = {r["name"] for r in
          query.entities_from_chunks(mentions, ["k0"], max_depth=2).collect()}
    d3 = {r["name"] for r in
          query.entities_from_chunks(mentions, ["k0"], max_depth=3).collect()}
    assert d1 == {"E1", "E2"}
    assert d2 == d1                       # parity quirk preserved
    assert d3 == {"E1", "E2", "E3"}       # one entity->chunk->entity hop


def test_related_entities_bounded_bfs(spark):
    edges = spark.createDataFrame(
        [("A", "R", "B"), ("B", "R", "C"), ("C", "R", "D"), ("X", "R", "Y")],
        "subj string, pred string, obj string",
    )
    d1 = {r["name"] for r in query.related_entities(edges, "A", 1).collect()}
    d2 = {r["name"] for r in query.related_entities(edges, "A", 2).collect()}
    assert d1 == {"B"}
    assert d2 == {"B", "C"}


def test_traversal_returns_full_entity_rows(spark):
    """Reference parity (neo4j_store.py:331-360): traversal returns the
    full entity node + labels + path rel_types, not bare names — with
    properties filtered of 'name'/'__'-prefixed keys exactly as the
    reference's context formatter does (graphrag.py:181-190)."""
    ments = spark.createDataFrame(
        [("c1", "Acme Corp")], "chunk_id string, name string"
    )
    kg_nodes = spark.createDataFrame(
        [("Acme Corp", "Acme Corp", ["Organization"],
          {"name": "Acme Corp", "industry": "tech", "__chunk": "c1"})],
        "canonical_id string, name string, labels array<string>, "
        "properties map<string,string>",
    )
    r = query.entities_from_chunks(
        ments, ["c1"], kg_nodes=kg_nodes
    ).collect()[0]
    assert r["name"] == "Acme Corp"
    assert r["labels"] == "Organization"
    assert r["properties"] == "industry=tech"  # name/__-keys filtered
    assert r["rel_types"] == "CONTAINS_ENTITY"
    assert r["hops"] == 1
    # scalar-only contract for the driver canonicalizer
    assert all(not isinstance(v, (list, dict)) for v in r.asDict().values())


def test_related_entities_rel_types_path(spark):
    """related_entities carries the predicate sequence of the BFS path
    (reference: [r IN relationships(path) | type(r)])."""
    edges = spark.createDataFrame(
        [("A", "R", "B"), ("B", "S", "C")],
        "subj string, pred string, obj string",
    )
    nodes = spark.createDataFrame(
        [(n, n, ["Entity"], {"name": n}) for n in "ABC"],
        "canonical_id string, name string, labels array<string>, "
        "properties map<string,string>",
    )
    got = {r["name"]: r for r in query.related_entities(
        edges, "A", 2, kg_nodes=nodes
    ).collect()}
    assert got["B"]["rel_types"] == "R" and got["B"]["hops"] == 1
    assert got["C"]["rel_types"] == "R,S" and got["C"]["hops"] == 2
    assert got["B"]["labels"] == "Entity"


def test_build_context_reference_format(spark):
    """build_context emits the reference's exact prompt shape
    (graphrag.py:170-194): chunk sections with 3-decimal scores, then
    entity lines 'name (labels): properties'."""
    hits = spark.createDataFrame(
        [("c1", 0.9123)], "chunk_id string, combined_score double"
    )
    chunks = spark.createDataFrame(
        [("c1", "Acme signed the contract.")], "chunk_id string, text string"
    )
    entities = spark.createDataFrame(
        [("Acme Corp", "Organization", "industry=tech", "CONTAINS_ENTITY", 1)],
        "name string, labels string, properties string, rel_types string, "
        "hops int",
    )
    ctx = query.build_context(hits, entities, chunks)
    assert ctx.startswith("=== Relevant Text Chunks ===")
    assert "\nChunk 1 (score: 0.912):" in ctx
    assert "Acme signed the contract." in ctx
    assert "=== Related Entities ===" in ctx
    assert "\nAcme Corp (Organization): industry=tech" in ctx


def test_top_connected_entities(spark):
    edges = spark.createDataFrame(
        [("A", "R", "B"), ("A", "S", "C"), ("B", "R", "C")],
        "subj string, pred string, obj string",
    )
    nodes = spark.createDataFrame(
        [("A", "A", ["Entity"]), ("B", "B", ["Entity"]), ("C", "C", ["Entity"])],
        "canonical_id string, name string, labels array<string>",
    )
    got = query.top_connected_entities(edges, nodes, k=2).collect()
    assert [(r["canonical_id"], r["degree"]) for r in got] == [("A", 2), ("B", 2)]
    # scalar-only output contract: labels is comma-joined, not an array
    # (nested columns break the driver's pandas canonicalization)
    assert got[0]["labels"] == "Entity"
    assert all(not isinstance(v, list) for v in got[0].asDict().values())


def test_graphrag_query_cache_skips_recompute(spark, tmp_path, monkeypatch):
    """Reference graphrag.py:44-64: identical query+params within the
    TTL is served from cache. Evidence of zero recompute: after the
    first call, vector_topk is monkeypatched to raise — the cached
    second call must still succeed and return the miss's rows exactly;
    a changed param, an expired TTL, another corpus id or a cleared and
    rebuilt warehouse must recompute (and therefore raise). The cache is
    one JSON record per key: no cache tables, an expired record is
    overwritten in place, and a fresh TableIO is served the record."""
    import json
    import os

    from kgspark.fixtures import pages_df
    from kgspark.io import CACHE_DIR, TableIO
    from kgspark.pipeline import build_kg_frames

    frames = build_kg_frames(spark, pages_df(spark, 40), link_mode="exact")
    wh = str(tmp_path / "wh")
    io = TableIO(wh)
    # the key's corpus id defaults to the current `chunks` snapshot
    io.commit("chunks", frames["chunks"])
    args = (frames["chunks"], frames["embeddings"], frames["mentions"],
            "court contract agreement")
    kw = {"top_k": 3, "kg_nodes": frames["kg_nodes"]}

    def rows(out):
        return {k: [repr(r) for r in out[k].collect()]
                for k in ("hits", "entities")}

    first = query.graphrag_search_cached(io, *args, **kw)
    assert first["cached"] is False
    rows1 = rows(first)
    ents = first["entities"].collect()
    assert ents and all(type(r["hops"]) is int for r in ents)

    def boom(*a, **kw):
        raise AssertionError("retrieval recomputed despite cache hit")

    monkeypatch.setattr(query, "vector_topk", boom)
    # exact rows (float scores, int hops) and schemas, also across processes
    for reader in (io, TableIO(wh)):
        second = query.graphrag_search_cached(reader, *args, **kw)
        assert second["cached"] is True
        assert rows(second) == rows1
        for k in ("hits", "entities"):
            assert second[k].schema == first[k].schema
    # different params -> different key -> recompute path (raises)
    with pytest.raises(AssertionError, match="recomputed"):
        query.graphrag_search_cached(io, *args, **{**kw, "top_k": 4})
    # expired TTL -> recompute path (raises)
    with pytest.raises(AssertionError, match="recomputed"):
        query.graphrag_search_cached(io, *args, ttl_seconds=0.0, **kw)
    # a DIFFERENT corpus sharing the warehouse must never be served the
    # old corpus's cached hits — corpus_id is part of the key
    with pytest.raises(AssertionError, match="recomputed"):
        query.graphrag_search_cached(io, *args, corpus_id="rebuilt-v2", **kw)
    monkeypatch.undo()

    # one file per key, no _qcache_* tables; an expired record is
    # rewritten under the same name
    cache_dir = os.path.join(wh, CACHE_DIR)
    (record,) = os.listdir(cache_dir)
    assert io.tables() == ["chunks"]
    with open(os.path.join(cache_dir, record)) as f:
        ts0 = json.load(f)["ts"]
    again = query.graphrag_search_cached(io, *args, ttl_seconds=0.0, **kw)
    assert again["cached"] is False and rows(again) == rows1
    assert os.listdir(cache_dir) == [record]
    with open(os.path.join(cache_dir, record)) as f:
        assert json.load(f)["ts"] > ts0

    # an empty entities list round-trips too (mentions are not in the key)
    no_mentions = (*args[:2], frames["mentions"].limit(0), args[3])
    miss = query.graphrag_search_cached(io, *no_mentions, corpus_id="none", **kw)
    hit = query.graphrag_search_cached(io, *no_mentions, corpus_id="none", **kw)
    assert (miss["cached"], hit["cached"]) == (False, True)
    assert rows(hit) == rows(miss) and rows(hit)["entities"] == []
    assert hit["entities"].schema == miss["entities"].schema

    # clear_all removes the cache: a rebuilt warehouse reuses chunks
    # snapshot s0000, so a leftover record would match the same key
    io.clear_all()
    assert not os.path.exists(cache_dir)
    io.commit("chunks", frames["chunks"])
    monkeypatch.setattr(query, "vector_topk", boom)
    with pytest.raises(AssertionError, match="recomputed"):
        query.graphrag_search_cached(io, *args, **kw)


def test_graphrag_query_cache_key_covers_every_argument(spark, tmp_path):
    """The cache key is the search call bound with defaults applied: a
    call without kg_nodes after one with it is a miss and returns the
    3-column entity rows, not the 5-column rows the first call stored;
    the same call spelled positionally or with an explicit default is
    a hit."""
    from kgspark.fixtures import pages_df
    from kgspark.io import TableIO
    from kgspark.pipeline import build_kg_frames

    frames = build_kg_frames(spark, pages_df(spark, 40), link_mode="exact")
    io = TableIO(str(tmp_path / "wh"))
    args = (frames["chunks"], frames["embeddings"], frames["mentions"],
            "court contract agreement")
    kw = {"top_k": 3, "corpus_id": "c"}

    full = query.graphrag_search_cached(
        io, *args, kg_nodes=frames["kg_nodes"], **kw
    )
    assert full["cached"] is False
    assert full["entities"].columns == [
        "name", "labels", "properties", "rel_types", "hops"
    ]
    bare = query.graphrag_search_cached(io, *args, **kw)
    assert bare["cached"] is False
    assert bare["entities"].columns == ["name", "rel_types", "hops"]
    assert bare["hits"].collect() == full["hits"].collect()

    again = query.graphrag_search_cached(
        io, *args, 3, max_depth=2, kg_nodes=None, corpus_id="c"
    )
    assert again["cached"] is True
    assert again["entities"].columns == ["name", "rel_types", "hops"]


def test_graphrag_search_without_index_matches_indexed(spark):
    """One keyword path: without `inverted_index` the search builds the
    index from `chunks`, so bm25 and fuzzy scoring apply with or
    without a prebuilt index and the results equal the indexed call's
    by repr. The typo'd query term makes the three models differ."""
    from kgspark.fixtures import pages_df
    from kgspark.pipeline import build_kg_frames

    frames = build_kg_frames(spark, pages_df(spark, 40), link_mode="exact")
    args = (frames["chunks"], frames["embeddings"], frames["mentions"],
            "court contrct agreement the fox")
    index = query.build_inverted_index(frames["chunks"])

    def rows(**kw):
        out = query.graphrag_search(*args, top_k=5, **kw)
        return {k: [repr(r) for r in out[k].collect()]
                for k in ("hits", "entities")}

    got = {}
    for name, kw in (("tf", {}), ("bm25", {"keyword_model": "bm25"}),
                     ("fuzzy", {"fuzziness": 1})):
        got[name] = rows(**kw)
        assert got[name] == rows(inverted_index=index, **kw), name
    assert got["bm25"]["hits"] != got["tf"]["hits"]
    assert got["fuzzy"]["hits"] != got["tf"]["hits"]


def test_graphrag_search_one_pass_plan_shape(spark, tmp_path, monkeypatch):
    """A search miss runs the fused top-k once: `hits` comes back as a
    LocalRelation, so reading it never scans embeddings again. The
    entity expansion is seeded by a filter: the seed's scan of
    `extracted` carries a pushed chunk_id IN (...) filter and the plan
    has no ExistingRDD leaf (a frame built from a Python list)."""
    from kgspark.fixtures import pages_df
    from kgspark.io import TableIO
    from kgspark.pipeline import build_kg_frames
    from kgspark.stages import mentions_of

    frames = build_kg_frames(spark, pages_df(spark, 40), link_mode="exact")
    io = TableIO(str(tmp_path / "wh"))
    for t in ("embeddings", "extracted"):
        io.commit(t, frames[t])
    seeds = []
    orig = query.entities_from_chunks
    monkeypatch.setattr(
        query, "entities_from_chunks",
        lambda *a, **k: seeds.append(orig(*a, **k)) or seeds[-1],
    )
    out = query.graphrag_search(
        frames["chunks"], io.read(spark, "embeddings"),
        mentions_of(io.read(spark, "extracted")),
        "court contract agreement", top_k=5,
    )
    qe = out["hits"]._jdf.queryExecution()
    assert qe.optimizedPlan().toString().startswith("LocalRelation")
    assert "FileScan" not in qe.executedPlan().toString()
    assert out["hits"].count() == 5

    (seed,) = seeds
    plan = seed._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines()
             if "FileScan" in ln and "chunk_id#" in ln]
    assert scans, "expected the seed to scan extracted from parquet"
    for ln in scans:
        assert "In(chunk_id, [" in ln, f"seed scan without pushdown: {ln}"
    assert "ExistingRDD" not in plan


def test_bm25_rare_term_outranks_stopword_heavy(spark):
    """BM25 vs raw tf-sum: a doc matching a RARE query term must
    outrank docs stuffed with a corpus-wide common term (idf does the
    work); the tf-sum model gets this exactly backwards — which is why
    BM25 exists (reference relevance = ES best_fields, df-normalized)."""
    rows = [(f"c{i}", "common common common common common common")
            for i in range(8)]
    rows.append(("rare1", "rare common"))
    chunks = spark.createDataFrame(rows, "chunk_id string, text string")
    index = query.build_inverted_index(chunks)

    bm = query.keyword_scores_bm25(index, "rare common", k=3).collect()
    assert bm[0]["chunk_id"] == "rare1"

    tf = query.keyword_scores_from_index(index, "rare common", k=3).collect()
    assert tf[0]["chunk_id"] != "rare1"  # tf-sum favors the stuffed docs

    # empty query -> empty, well-typed result
    assert query.keyword_scores_bm25(index, "???", k=3).count() == 0


def test_graph_stats_tidy_counts(spark):
    nodes = spark.createDataFrame(
        [("A", "A", ["Org"]), ("B", "B", ["Org", "Law"]), ("C", "C", ["Law"])],
        "canonical_id string, name string, labels array<string>",
    )
    edges = spark.createDataFrame(
        [("A", "R", "B"), ("A", "S", "C"), ("B", "R", "C")],
        "subj string, pred string, obj string",
    )
    got = {(r["dim"], r["key"]): r["n"]
           for r in query.graph_stats(nodes, edges).collect()}
    assert got[("total", "nodes")] == 3 and got[("total", "edges")] == 3
    assert got[("label", "Org")] == 2 and got[("label", "Law")] == 2
    assert got[("pred", "R")] == 2 and got[("pred", "S")] == 1


def test_graphrag_search_end_to_end(spark):
    """Full O19->O24 retrieval analog over a built KG (no LLM)."""
    from kgspark.fixtures import pages_df
    from kgspark.pipeline import build_kg_frames
    from kgspark.query import build_context, graphrag_search

    frames = build_kg_frames(spark, pages_df(spark, 60), link_mode="exact")
    out = graphrag_search(
        frames["chunks"], frames["embeddings"], frames["mentions"],
        "court contract agreement", top_k=5,
    )
    hits = out["hits"].collect()
    assert 0 < len(hits) <= 5
    # scores normalized and combined per reference weights
    for r in hits:
        assert 0.0 <= r["vector_score"] <= 1.0
        assert 0.0 <= r["keyword_score"] <= 1.0
        assert r["combined_score"] == pytest.approx(
            0.7 * r["vector_score"] + 0.3 * r["keyword_score"], abs=1e-9
        )
    # descending by combined score
    scores = [r["combined_score"] for r in hits]
    assert scores == sorted(scores, reverse=True)

    ents = out["entities"].collect()
    assert len(ents) <= 100

    ctx = build_context(out["hits"], out["entities"], frames["chunks"])
    assert ctx.startswith("=== Relevant Text Chunks ===")
    assert "\nChunk 1 (score: " in ctx
    if ents:
        assert "=== Related Entities ===" in ctx
        assert f"\n{ents[0]['name']} (" in ctx

    # determinism across repeated invocations
    out2 = graphrag_search(
        frames["chunks"], frames["embeddings"], frames["mentions"],
        "court contract agreement", top_k=5,
    )
    assert sorted(map(tuple, hits)) == sorted(map(tuple, out2["hits"].collect()))


def test_graphrag_search_no_hybrid_and_weights(spark):
    """Reference use_hybrid_search=False (vector+graph only) and custom
    fusion weights through the search API (cli/main.py search flags)."""
    from kgspark.fixtures import pages_df
    from kgspark.pipeline import build_kg_frames
    from kgspark.query import graphrag_search

    frames = build_kg_frames(spark, pages_df(spark, 60), link_mode="exact")
    args = (frames["chunks"], frames["embeddings"], frames["mentions"],
            "court contract agreement")
    out = graphrag_search(*args, top_k=5, hybrid=False)
    hits = out["hits"].collect()
    assert 0 < len(hits) <= 5
    for r in hits:
        assert r["keyword_score"] == 0.0       # keyword side empty
        assert r["combined_score"] == pytest.approx(
            0.7 * r["vector_score"], abs=1e-9
        )
    # custom weights flow through to fusion
    w = graphrag_search(
        *args, top_k=5, vector_weight=0.5, keyword_weight=0.5
    )["hits"].collect()
    for r in w:
        assert r["combined_score"] == pytest.approx(
            0.5 * r["vector_score"] + 0.5 * r["keyword_score"], abs=1e-9
        )


def test_frontier_broadcast_guarded_by_size(spark):
    """Round-4 scale fix (VERDICT r3 item 3): the k-hop frontier is
    broadcast-hinted ONLY while its known row count fits under the
    cap — on a dense KG the hop-2 frontier is unbounded (the reference
    LIMITs only final results, neo4j_store.py:385), so an unconditional
    hint ships a multi-million-row frontier to every executor. Both
    plan shapes pinned via the analyzed logical plan (user hints appear
    there as ResolvedHint; AQE runtime choices never do)."""
    und = spark.createDataFrame(
        [("a", "b", "r1"), ("b", "c", "r2")],
        "a string, b string, pred string",
    )
    frontier = spark.createDataFrame(
        [("a", ["r0"])], "a string, path array<string>"
    )
    hinted = query._frontier_step(und, frontier, 1, broadcast_max=10)
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    plain = query._frontier_step(und, frontier, 11, broadcast_max=10)
    assert "ResolvedHint" not in plain._jdf.queryExecution().analyzed().toString()


def test_related_entities_same_rows_with_and_without_broadcast(spark):
    """The guard changes join strategy, never results: forcing the
    no-broadcast path (cap 0) returns exactly the default rows."""
    edges = spark.createDataFrame(
        [
            ("apple", "acquires", "startup"),
            ("startup", "based_in", "berlin"),
            ("berlin", "capital_of", "germany"),
            ("apple", "sells", "phones"),
        ],
        "subj string, pred string, obj string",
    )
    base = sorted(
        map(tuple, query.related_entities(edges, "apple", max_depth=2).collect())
    )
    guarded = sorted(
        map(
            tuple,
            query.related_entities(
                edges, "apple", max_depth=2, frontier_broadcast_max=0
            ).collect(),
        )
    )
    assert base == guarded and len(base) > 0


def test_bm25_stats_materialized_resume_parity_pushdown(spark, tmp_path, monkeypatch):
    """Round-4 directive 4: BM25 doc-length stats are an INGEST-time
    artifact (the reference's ES keeps them inside the index mapping,
    elasticsearch_store.py:72-89). (a) a rebuild for the same input key
    resumes with zero recompute; (b) scores through the materialized
    stats == the inline derivation; (c) with stats supplied, the
    per-query plan never aggregates the full index: every scan of the
    committed index carries a pushed term filter."""
    from kgspark.io import TableIO

    rows = [(f"c{i}", "common words fill this chunk") for i in range(6)]
    rows.append(("rare1", "rare common words"))
    chunks = spark.createDataFrame(rows, "chunk_id string, text string")
    index = query.build_inverted_index(chunks)
    io = TableIO(str(tmp_path / "wh"))
    snap = query.build_bm25_stats(io, index, input_key="idx:v1")

    commits = []
    orig_commit = TableIO.commit
    monkeypatch.setattr(
        TableIO, "commit",
        lambda self, *a, **k: commits.append(1) or orig_commit(self, *a, **k),
    )
    assert query.build_bm25_stats(io, index, input_key="idx:v1") == snap
    assert commits == []  # resumed, not rebuilt
    monkeypatch.undo()

    dl, n_docs, avgdl = query.read_bm25_stats(io, spark, snap)
    inline = [
        (r["chunk_id"], round(r["score"], 9))
        for r in query.keyword_scores_bm25(index, "rare common", k=5).collect()
    ]
    mat = [
        (r["chunk_id"], round(r["score"], 9))
        for r in query.keyword_scores_bm25(
            index, "rare common", k=5, dl=dl, n_docs=n_docs, avgdl=avgdl
        ).collect()
    ]
    assert inline == mat and mat[0][0] == "rare1"

    # (c) plan shape on a parquet-committed index (the production case)
    idx_snap = io.commit("inverted_index", index, "idx:v1")
    idx_pq = io.read(spark, "inverted_index", idx_snap)
    out = query.keyword_scores_bm25(
        idx_pq, "rare common", k=5, dl=dl, n_docs=n_docs, avgdl=avgdl
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # Location paths are truncated in plan strings — identify each scan
    # by its projected columns instead: index scans read term(+tf),
    # the materialized stats scan reads (chunk_id, dl)
    idx_scans = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "term#" in ln
    ]
    assert idx_scans, "expected the index to be scanned from parquet"
    for ln in idx_scans:
        assert "IN (common,rare)" in ln, (
            f"index scan without term pushdown: {ln}"
        )
    dl_scans = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "dl#" in ln
    ]
    assert dl_scans, "doc lengths must come from the materialized table"
    for ln in dl_scans:
        assert "term#" not in ln  # never re-derived from the index
