"""Query-side operators — the GraphRAG analog over materialized tables
(SURVEY.md §3.2), no LLM: hybrid retrieval = cosine top-k ∪ keyword
top-k with weighted fusion, then bounded graph expansion.

All scoring is JVM-side column arithmetic (aggregate/zip_with for the
dot product, TakeOrderedAndProject for top-k) — no Python in the hot
path. The query vector is a literal, so the top-k scan is a single
narrow pass over the embeddings table with no shuffle before the final
ordered take.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import time

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from . import KEYWORD_WEIGHT, MAX_DEPTH, TOP_K, VECTOR_WEIGHT
from .io import local_frame
from .textops import _TOKEN_RE, embed_text


def query_terms(query: str) -> list[str]:
    """Tokenize a query string with the SAME [a-z0-9]+ rule the corpus /
    inverted index uses (textops' S3 token rule) — a punctuated query
    like "court, contract" must yield the terms the index actually
    stores, not "court,"."""
    return sorted(set(_TOKEN_RE.findall(query.lower())))


def cosine_score(vec_col, query_vec: list[float]):
    """cosine(embedding, q) as a codegen'd column expression."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    dot = F.aggregate(
        F.zip_with(vec_col, q, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_v = F.sqrt(
        F.aggregate(
            vec_col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    norm_q = float(sum(x * x for x in query_vec) ** 0.5) or 1.0
    return F.when(norm_v > 0, dot / (norm_v * F.lit(norm_q))).otherwise(F.lit(0.0))


def vector_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = TOP_K,
    id_col: str = "chunk_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k (reference O19, qdrant_store.py:80-105).
    orderBy(desc).limit(k) compiles to TakeOrderedAndProject — no full
    sort, no shuffle of the scored rows beyond the per-partition heap."""
    return (
        embeddings.select(
            F.col(id_col),
            cosine_score(F.col(vec_col), query_vec).alias("score"),
        )
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def build_inverted_index(
    chunks: DataFrame, id_col: str = "chunk_id", text_col: str = "text"
) -> DataFrame:
    """Materialize the full-text index at ingest (reference O18,
    elasticsearch_store.py:94-136: ES bulk index built when chunks are
    written, not at query time): (term, chunk_id, tf) rows. At scale
    this is written bucketed by term so a query's term lookups prune to
    a handful of buckets."""
    # positive-class extract_all: same [a-z0-9]-run tokens as the
    # neg-class split, ~3x cheaper in the JVM regex engine and no
    # empty-string artifacts to filter
    return (
        chunks.select(
            F.col(id_col),
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0
                )
            ).alias("term"),
        )
        .groupBy("term", id_col)
        .agg(F.count("*").cast("double").alias("tf"))
    )


def keyword_scores_from_index(
    index: DataFrame, query: str, k: int = TOP_K, id_col: str = "chunk_id"
) -> DataFrame:
    """Keyword top-k (reference O20, elasticsearch_store.py:138-178)
    against the materialized inverted index: the query's terms as an
    isin literal, tf summed per chunk. The scan touches only the
    term-matched rows (predicate pushdown on `term`). For the
    reference's `fuzziness: AUTO` use keyword_scores_fuzzy."""
    terms = query_terms(query)
    if not terms:
        return index.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    return (
        index.filter(F.col("term").isin(terms))
        .groupBy(id_col)
        .agg(F.sum("tf").alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def keyword_scores_bm25(
    index: DataFrame,
    query: str,
    k: int = TOP_K,
    id_col: str = "chunk_id",
    k1: float = 1.2,
    b: float = 0.75,
    dl: DataFrame | None = None,
    n_docs: float | None = None,
    avgdl: float | None = None,
) -> DataFrame:
    """BM25 relevance over the materialized inverted index — the
    engine's analog of the reference's ES `multi_match best_fields`
    relevance model (elasticsearch_store.py:145-153), which is
    df/length-normalized, unlike the raw tf sum of
    keyword_scores_from_index (kept as the default for reference
    score-parity; BM25 is opt-in via
    graphrag_search(keyword_model="bm25")).

        idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))     (Lucene/ES)
        score(d) = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Everything derives from the (term, chunk_id, tf) index itself:
    dl = sum(tf) per chunk, N/avgdl one single-row aggregate. Pass the
    ingest-time artifacts from build_bm25_stats (`dl` table + the
    `n_docs`/`avgdl` scalars from its snapshot metadata) and the
    per-query plan touches ONLY the query's term rows (term-pushdown
    index scan, pinned by tests/test_query.py) plus the dl lookup —
    no full-index aggregate per query. Without them (ad-hoc use on an
    uncommitted index) both are derived inline, a full index pass."""
    terms = query_terms(query)
    if not terms:
        return index.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    if dl is None:
        dl = index.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    if n_docs is not None and avgdl is not None:
        stats = index.sparkSession.createDataFrame(
            [(float(n_docs), float(avgdl))], "n_docs double, avgdl double"
        )
    else:
        stats = dl.agg(
            F.count("*").cast("double").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
        )
    matched = index.filter(F.col("term").isin(terms))
    dfs = matched.groupBy("term").agg(
        F.count("*").cast("double").alias("df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    part = idf * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        matched.join(F.broadcast(dfs), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(part).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def build_bm25_stats(
    io,
    index: DataFrame,
    table: str = "bm25_stats",
    input_key: str | None = None,
    id_col: str = "chunk_id",
) -> str:
    """Materialize the BM25 per-document length table ONCE at ingest —
    the reference's ES index keeps these statistics inside the index
    itself (elasticsearch_store.py:72-89: the mapping IS the stats
    store); without this, every BM25 query re-aggregates dl = sum(tf)
    over the WHOLE inverted index (a full pass per query at a 10^12-
    chunk index). Same TableIO build-artifact pattern as the inverted
    index (O18), the IVF index and build_vocab_grams: keyed on the
    index snapshot via `input_key`, resumed instead of rebuilt when
    already committed. Rows: (id_col, dl); the corpus scalars
    (n_docs, avgdl) ride in the snapshot metadata so query time pays
    zero aggregation for them."""
    if input_key is not None:
        existing = io.find_snapshot(table, input_key)
        if existing is not None:
            return existing
    dl = index.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    row = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    ).first()
    return io.commit(
        table, dl, input_snapshot=input_key,
        metadata={
            "n_docs": float(row["n_docs"]),
            "avgdl": float(row["avgdl"] or 0.0),
            "id_col": id_col,
        },
    )


def read_bm25_stats(
    io, spark, snapshot: str, table: str = "bm25_stats"
) -> tuple[DataFrame, float, float]:
    """Load a build_bm25_stats artifact: (dl DataFrame, n_docs, avgdl)
    ready to pass to keyword_scores_bm25 / graphrag_search."""
    meta = io.snapshot_metadata(table, snapshot)
    dl = io.read(spark, table, snapshot)
    return dl, float(meta["n_docs"]), float(meta["avgdl"])


def _py_char_grams(term: str, q: int) -> list[str]:
    return sorted({term[i : i + q] for i in range(max(len(term) - q + 1, 1))})


def _vocab_gram_frame(vocab: DataFrame, qsizes: list[int]) -> DataFrame:
    """(term, gram, q) rows for the distinct vocabulary at the given
    char-gram sizes — the blocking table for fuzzy expansion."""
    t = F.col("term")

    def _substr_gram(q: int):
        # single-parameter lambda factory: a 2-arg lambda (even with a
        # default) would be treated by F.transform as the (element,
        # index) binary form
        return lambda i: t.substr(i, F.lit(q))

    parts = [
        vocab.select(
            "term",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(
                            F.lit(1), F.greatest(F.length(t) - (q - 1), F.lit(1))
                        ),
                        _substr_gram(q),
                    )
                )
            ).alias("gram"),
            F.lit(q).alias("q"),
        )
        for q in qsizes
    ]
    vg = parts[0]
    for part in parts[1:]:
        vg = vg.unionByName(part)
    return vg


def build_vocab_grams(
    io,
    index: DataFrame,
    table: str = "vocab_grams",
    input_key: str | None = None,
    qsizes: tuple[int, ...] = (2, 3),
) -> str:
    """Materialize the vocabulary char-gram blocking table ONCE at
    ingest — the scale fix for fuzzy search: without it,
    fuzzy_term_weights re-derives `index.select("term").distinct()` +
    gram explode on EVERY query, a full vocabulary shuffle per typo'd
    query (ruinous at a 10^8-term vocabulary). Same TableIO build-
    artifact pattern as the inverted index (O18) and the IVF index:
    keyed on the index snapshot via `input_key`, resumed instead of
    rebuilt when already committed. Rows: (term, gram, q) for q in
    qsizes (2 and 3 cover the ES-AUTO-style short/long term ladder)."""
    if input_key is not None:
        existing = io.find_snapshot(table, input_key)
        if existing is not None:
            return existing
    vg = _vocab_gram_frame(index.select("term").distinct(), list(qsizes))
    return io.commit(
        table, vg, input_snapshot=input_key,
        metadata={"qsizes": list(qsizes)},
    )


def fuzzy_term_weights(
    index: DataFrame,
    terms: list[str],
    max_edit: int = 1,
    fuzzy_weight: float = 0.5,
    vocab_grams: DataFrame | None = None,
) -> DataFrame:
    """Expand query terms to index-vocabulary terms within levenshtein
    <= max_edit — the engine's analog of the reference's ES
    `fuzziness: "AUTO"` (elasticsearch_store.py:147-151). Returns
    (term, weight): exact query terms weigh 1.0, fuzzy variants
    `fuzzy_weight`; a term reached both ways keeps the max.

    Scale shape: candidates come from a char-gram block — the distinct
    vocab is char-q-grammed once (q=3, or q=2 for short query terms,
    mirroring ES AUTO's shorter-terms-fewer-edits ladder) and joined
    against the handful of broadcast query grams, so the only full pass
    is one narrow scan over the vocabulary; levenshtein runs only on
    blocked candidates. Gram blocking is exhaustive for terms of length
    > 2q-1 and best-effort below (documented recall edge, same class of
    limit as ES AUTO's 0-edit rule for <=2-char terms).

    Pass `vocab_grams` (the table build_vocab_grams materialized at
    ingest) to skip even that one vocabulary pass — the per-query work
    is then a broadcast join against the handful of query grams only."""
    spark = index.sparkSession
    qsizes = sorted({2 if len(t) <= 5 else 3 for t in terms})
    qgrams = [
        (t, g, q) for t in terms for q in [2 if len(t) <= 5 else 3]
        for g in _py_char_grams(t, q)
    ]
    qg = F.broadcast(
        spark.createDataFrame(qgrams, "qterm string, gram string, q int")
    )
    if vocab_grams is not None:
        vg = vocab_grams
    else:
        vg = _vocab_gram_frame(index.select("term").distinct(), qsizes)
    fuzzy = (
        vg.join(qg, ["gram", "q"])
        .filter(
            (F.abs(F.length("term") - F.length("qterm")) <= max_edit)
            & (F.col("term") != F.col("qterm"))
        )
        .select("qterm", "term")
        .distinct()
        .filter(F.levenshtein("qterm", "term") <= max_edit)
        .select("term", F.lit(float(fuzzy_weight)).alias("weight"))
        .distinct()
    )
    exact = spark.createDataFrame(
        [(t_, 1.0) for t_ in terms], "term string, weight double"
    )
    return (
        exact.unionByName(fuzzy)
        .groupBy("term")
        .agg(F.max("weight").alias("weight"))
    )


def keyword_scores_fuzzy(
    index: DataFrame,
    query: str,
    k: int = TOP_K,
    id_col: str = "chunk_id",
    max_edit: int = 1,
    fuzzy_weight: float = 0.5,
    vocab_grams: DataFrame | None = None,
) -> DataFrame:
    """Keyword top-k with typo tolerance: expand the query's terms over
    the index vocabulary (fuzzy_term_weights), then weighted tf sum —
    score = sum(tf * weight) per chunk. The expanded term set is tiny,
    so the scoring join is a broadcast against the index, exactly like
    the exact path. `vocab_grams`: see build_vocab_grams."""
    terms = query_terms(query)
    if not terms:
        return index.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    weights = F.broadcast(
        fuzzy_term_weights(
            index, terms, max_edit, fuzzy_weight, vocab_grams=vocab_grams
        )
    )
    return (
        index.join(weights, "term")
        .groupBy(id_col)
        .agg(F.sum(F.col("tf") * F.col("weight")).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def normalize_vector_score(col):
    """(1+s)/2 clamped to [0,1] — graphrag.py:164-168."""
    return F.greatest(F.lit(0.0), F.least(F.lit(1.0), (F.lit(1.0) + col) / 2.0))


def normalize_keyword_score(col):
    """s/10 clamped to [0,1] — graphrag.py:164-168."""
    return F.greatest(F.lit(0.0), F.least(F.lit(1.0), col / 10.0))


def fuse(
    vector_hits: DataFrame,
    keyword_hits: DataFrame,
    k: int = TOP_K,
    vector_weight: float = VECTOR_WEIGHT,
    keyword_weight: float = KEYWORD_WEIGHT,
    id_col: str = "chunk_id",
) -> DataFrame:
    """Hybrid fusion (reference O22, graphrag.py:117-162): full-outer
    join on chunk_id, normalize each side, combined = v*0.7 + k*0.3,
    top-k desc. Missing side contributes 0."""
    v = vector_hits.select(
        F.col(id_col), normalize_vector_score(F.col("score")).alias("vector_score")
    )
    kw = keyword_hits.select(
        F.col(id_col).alias("__kid"),
        normalize_keyword_score(F.col("score")).alias("keyword_score"),
    )
    return (
        v.join(kw, v[id_col] == kw["__kid"], "full_outer")
        .select(
            F.coalesce(F.col(id_col), F.col("__kid")).alias(id_col),
            F.coalesce("vector_score", F.lit(0.0)).alias("vector_score"),
            F.coalesce("keyword_score", F.lit(0.0)).alias("keyword_score"),
        )
        .withColumn(
            "combined_score",
            F.col("vector_score") * vector_weight
            + F.col("keyword_score") * keyword_weight,
        )
        .orderBy(F.desc("combined_score"), F.col(id_col))
        .limit(k)
    )


def _props_str(pcol):
    """Entity properties map as a deterministic scalar string
    'k=v; k2=v2' over sorted keys, excluding 'name' and '__'-prefixed
    keys — the same filtering the reference applies when formatting
    entity properties into the context prompt (graphrag.py:181-190).
    Scalar (not map) so driver-contract outputs stay canonicalizable."""
    keys = F.filter(
        F.array_sort(F.map_keys(pcol)),
        lambda k: (k != F.lit("name")) & ~k.startswith("__"),
    )
    return F.when(pcol.isNull(), F.lit("")).otherwise(
        F.array_join(
            F.transform(
                keys, lambda k: F.concat_ws("=", k, F.element_at(pcol, k))
            ),
            "; ",
        )
    )


def _with_node_meta(out: DataFrame, kg_nodes: DataFrame | None) -> DataFrame:
    """(name, rel_types, hops) entity rows; with `kg_nodes` given, also
    the node's labels (', '-joined) and properties (_props_str) between
    name and rel_types, '' for a name with no node row."""
    if kg_nodes is None:
        return out.select("name", "rel_types", "hops")
    meta = kg_nodes.select(
        F.col("canonical_id").alias("name"),
        F.array_join("labels", ", ").alias("labels"),
        _props_str(F.col("properties")).alias("properties"),
    )
    return out.join(meta, "name", "left").select(
        "name",
        F.coalesce("labels", F.lit("")).alias("labels"),
        F.coalesce("properties", F.lit("")).alias("properties"),
        "rel_types", "hops",
    )


def entities_from_chunks(
    mentions: DataFrame,
    chunk_ids: list[str],
    max_depth: int = MAX_DEPTH,
    limit: int = 100,
    kg_nodes: DataFrame | None = None,
) -> DataFrame:
    """Reference O23 (neo4j_store.py:261-345): entities reachable from
    the hit chunks over the bipartite chunk-[:CONTAINS_ENTITY]-entity
    graph within max_depth hops, DISTINCT, LIMIT 100.

    The reference RETURNs the full entity node plus labels(e) and the
    path's relationship types (`RETURN DISTINCT e, labels(e), [r IN
    relationships(path) | type(r)]`, neo4j_store.py:331-345). With
    `kg_nodes` given this emits the same surface as scalar columns:
    labels ', '-joined, properties via _props_str, rel_types =
    'CONTAINS_ENTITY' repeated hops times (the only type on the
    bipartite pattern), plus hops (first-reach BFS depth). Without
    kg_nodes: (name, rel_types, hops).

    Faithful quirk: the var-length pattern ends at an entity, so only
    odd hop counts can match — with the default max_depth=2 the result
    equals depth 1 (SURVEY.md §3.2-4). The seed is an isin filter on
    chunk_id, pushed into the mentions scan; deeper hops are iterative
    frontier hash-joins (BFS), the same shape as CC.
    """
    ment = mentions.select("chunk_id", "name")
    entities = (
        ment.filter(F.col("chunk_id").isin(chunk_ids)).select("name").distinct()
        .withColumn("hops", F.lit(1))
    )
    depth = 1
    while depth + 2 <= max_depth:  # entity->chunk->entity = +2 hops
        chunks_of = (
            ment.join(entities.select("name"), "name")
            .select("chunk_id").distinct()
        )
        nxt = (
            ment.join(chunks_of, "chunk_id").select("name").distinct()
            .join(entities.select("name"), "name", "left_anti")
            .withColumn("hops", F.lit(depth + 2))
        )
        entities = entities.unionByName(nxt)
        depth += 2
    out = entities.withColumn(
        "rel_types",
        F.array_join(
            F.array_repeat(F.lit("CONTAINS_ENTITY"), F.col("hops")), ","
        ),
    )
    return _with_node_meta(out, kg_nodes).orderBy("name").limit(limit)


#: rows above which a hop frontier is no longer hinted for broadcast —
#: on a dense KG the hop-2 frontier is unbounded (the reference LIMITs
#: only final results, neo4j_store.py:385), so a forced broadcast of a
#: multi-million-row frontier would ship it whole to every executor.
#: Below the cap the hint saves the per-hop shuffle of the (huge,
#: checkpointed) edge table; above it the join falls back to a plain
#: equi-join and AQE decides at runtime. The count is free: the
#: frontier is already eagerly checkpointed per round.
FRONTIER_BROADCAST_MAX_ROWS = 100_000


def _frontier_step(
    undirected: DataFrame,
    frontier: DataFrame,
    frontier_rows: int,
    broadcast_max: int = FRONTIER_BROADCAST_MAX_ROWS,
) -> DataFrame:
    """One BFS hop: join the edge table against the frontier on the
    source endpoint, carrying the extended predicate path. The frontier
    side is broadcast-hinted only while its known row count fits under
    `broadcast_max` (tests/test_query.py pins both plan shapes)."""
    fr = (
        F.broadcast(frontier)
        if frontier_rows <= broadcast_max
        else frontier
    )
    return undirected.join(fr, "a").select(
        F.col("b").alias("a"),
        F.concat(F.col("path"), F.array(F.col("pred"))).alias("path"),
    )


def related_entities(
    kg_edges: DataFrame,
    entity_name: str,
    max_depth: int = MAX_DEPTH,
    limit: int = 50,
    kg_nodes: DataFrame | None = None,
    frontier_broadcast_max: int = FRONTIER_BROADCAST_MAX_ROWS,
) -> DataFrame:
    """Reference get_related_entities (neo4j_store.py:372-407): entities
    within max_depth undirected hops over ANY relationship type, LIMIT
    50, returning the full entity row + the path's relationship types
    (`RETURN DISTINCT e2, labels(e2), [r IN relationships(path) |
    type(r)]`).

    rel_types here is the ','-joined predicate sequence of ONE
    deterministic path per entity: BFS-shortest, ties broken by the
    lexicographically smallest predicate sequence (engine-defined: the
    reference may emit several rows for one entity when distinct
    rel-type paths exist; one canonical row per entity is the
    deterministic-under-parallelism choice). With `kg_nodes` given the
    output adds labels / properties scalars like entities_from_chunks."""
    undirected = (
        kg_edges.select(
            F.col("subj").alias("a"), F.col("obj").alias("b"), "pred"
        )
        .union(
            kg_edges.select(
                F.col("obj").alias("a"), F.col("subj").alias("b"), "pred"
            )
        )
        .distinct()
        # materialize once: every hop joins against this frame, and
        # without the checkpoint each round re-runs the union+distinct
        # shuffle (and, upstream, the edge materialization)
        .localCheckpoint(eager=True)
    )
    # the seed row is made in the JVM: no driver-side list to pickle
    frontier = kg_edges.sparkSession.range(1, numPartitions=1).select(
        F.lit(entity_name).alias("a"),
        F.array().cast("array<string>").alias("path"),
    )
    seen = frontier.select("a")
    reached: DataFrame | None = None
    frontier_rows = 1  # the seed entity
    for _ in range(max_depth):
        stepped = _frontier_step(
            undirected, frontier, frontier_rows, frontier_broadcast_max
        )
        nxt = (
            stepped.groupBy("a")
            .agg(F.min("path").alias("path"))  # lexicographic tie-break
            .join(seen, "a", "left_anti")
        ).localCheckpoint(eager=True)
        # count() on the checkpointed frame is metadata-cheap and
        # feeds the next hop's broadcast guard (replaces isEmpty())
        frontier_rows = nxt.count()
        if frontier_rows == 0:
            break
        seen = seen.union(nxt.select("a"))
        reached = nxt if reached is None else reached.unionByName(nxt)
        frontier = nxt
    if reached is None:
        reached = frontier.limit(0)
    out = reached.select(
        F.col("a").alias("name"),
        F.array_join("path", ",").alias("rel_types"),
        F.size("path").alias("hops"),
    )
    return _with_node_meta(out, kg_nodes).orderBy("name").limit(limit)


def graphrag_search(
    chunks: DataFrame,
    embeddings: DataFrame,
    mentions: DataFrame,
    query_text: str,
    top_k: int = TOP_K,
    max_depth: int = MAX_DEPTH,
    embed_dim: int = 64,
    inverted_index: DataFrame | None = None,
    fuzziness: int = 0,
    keyword_model: str = "tf",
    kg_nodes: DataFrame | None = None,
    hybrid: bool = True,
    vector_weight: float = VECTOR_WEIGHT,
    keyword_weight: float = KEYWORD_WEIGHT,
    bm25_stats: tuple[DataFrame, float, float] | None = None,
) -> dict[str, DataFrame]:
    """End-to-end GraphRAG retrieval analog, no LLM (reference
    graphrag.search, src/builders/graphrag.py:58-98):

      1. embed the query with the same deterministic featurizer the
         chunks were embedded with (embeddings.py:28-45 analog)
      2. vector top-2k cosine + keyword top-2k over the inverted
         index (tf, fuzzy or bm25; qdrant_store.py:80-105 /
         elasticsearch_store.py:138-178); without `inverted_index`
         the index is built from `chunks` in the same plan
      3. weighted fusion to top-k (graphrag.py:117-162)
      4. entity expansion from the hit chunks (neo4j_store.py:261-345)

    Returns {"hits": fused top-k with scores, "entities": expanded
    entity names}, both as driver-local frames: the fused top-k runs
    once, its ids seed the expansion, and reading either result again
    runs no Spark job. The answer-generation step (graphrag.py:196-222)
    is out of scope per SURVEY.md O25 (non-deterministic external LLM).
    """
    qvec = embed_text(query_text, embed_dim)
    vec_hits = vector_topk(embeddings, qvec, k=top_k * 2)
    # the keyword side always reads an inverted index: the one ingest
    # built (O18), or, for an ad-hoc call, the same index over `chunks`
    index = (
        inverted_index if inverted_index is not None
        else build_inverted_index(chunks)
    )
    if not hybrid:
        # reference use_hybrid_search=False: vector + graph only
        # (cli/main.py:130,184) — fuse against an empty keyword side so
        # scores stay on the same normalized scale
        kw_hits = vec_hits.limit(0)
    elif keyword_model == "bm25":
        # opt-in (default "tf" preserves reference score parity):
        # df/length-normalized relevance like ES best_fields.
        # bm25_stats = (dl table, n_docs, avgdl) from read_bm25_stats —
        # when given, the query touches only its own term rows
        dl_df, nd, ad = bm25_stats if bm25_stats else (None, None, None)
        kw_hits = keyword_scores_bm25(
            index, query_text, k=top_k * 2, dl=dl_df, n_docs=nd, avgdl=ad,
        )
    elif fuzziness > 0:
        kw_hits = keyword_scores_fuzzy(
            index, query_text, k=top_k * 2, max_edit=fuzziness
        )
    else:
        kw_hits = keyword_scores_from_index(index, query_text, k=top_k * 2)
    hits = fuse(
        vec_hits, kw_hits, k=top_k,
        vector_weight=vector_weight, keyword_weight=keyword_weight,
    )
    hit_rows = hits.collect()
    entities = entities_from_chunks(
        mentions, [r["chunk_id"] for r in hit_rows],
        max_depth=max_depth, kg_nodes=kg_nodes,
    )
    spark = chunks.sparkSession
    return {
        "hits": local_frame(spark, hit_rows, hits.schema),
        "entities": local_frame(spark, entities.collect(), entities.schema),
    }


#: the graphrag_search results a query-cache record holds
_CACHED = ("hits", "entities")
#: taken once at import: a profiler may swap the module-level
#: graphrag_search for a bare (*a, **k) wrapper at run time
_SEARCH_SIG = inspect.signature(graphrag_search)
#: the corpus frames, named in the key by corpus_id
_CORPUS_FRAMES = ("chunks", "embeddings", "mentions")
#: the optional frames, keyed by whether they were given
_OPTIONAL_FRAMES = ("inverted_index", "kg_nodes", "bm25_stats")


def graphrag_search_cached(
    io,
    *args,
    ttl_seconds: float = 3600.0,
    corpus_id: str | None = None,
    **kwargs,
) -> dict:
    """Query-result cache over graphrag_search, called with its own
    arguments — the reference caches search results for 1 h keyed on
    sha256(query+params) (graphrag.py:44-64,93-96). Here the cache is
    one JSON record per digest under <warehouse>/_qcache/
    (TableIO.cache_get/cache_put), holding both results' rows and
    schemas and the write time: a repeated identical query within the
    TTL is one file read and two local frames — zero recompute of the
    retrieval DAG, at a cost that does not grow with the number of
    cached queries. An expired record is overwritten in place. Returns
    {"hits", "entities", "cached": bool}.

    The key covers every argument of the call with defaults applied:
    each scalar by value, each optional frame (`inverted_index`,
    `kg_nodes`, `bm25_stats`) by whether it was given, and the corpus
    frames through `corpus_id`. Unlike the reference's in-memory
    per-store cache, this cache is persisted in a warehouse and
    survives processes, so the key must carry the CORPUS identity, or
    a rebuilt/different corpus sharing the warehouse would be served
    stale hits for up to the TTL. Pass `corpus_id` (e.g. the chunks-
    table snapshot id); it defaults to the warehouse's current
    `chunks` snapshot when one exists."""
    params = _SEARCH_SIG.bind(*args, **kwargs)
    params.apply_defaults()
    if corpus_id is None:
        try:
            corpus_id = io.current_snapshot("chunks")
        except OSError:
            corpus_id = None
    fields = {"corpus": corpus_id} | {
        name: value is not None if name in _OPTIONAL_FRAMES else value
        for name, value in params.arguments.items()
        if name not in _CORPUS_FRAMES
    }
    key = hashlib.sha256(
        json.dumps(fields, sort_keys=True).encode()
    ).hexdigest()
    now = time.time()
    record = io.cache_get(key)
    if record is not None and now - record["ts"] <= ttl_seconds:
        spark = params.arguments["chunks"].sparkSession
        return {
            name: local_frame(
                spark, record[name]["rows"],
                StructType.fromJson(record[name]["schema"]),
            )
            for name in _CACHED
        } | {"cached": True}
    out = graphrag_search(*args, **kwargs)
    # both frames are local: collecting them again runs no Spark job
    io.cache_put(key, {"ts": now} | {
        name: {"schema": out[name].schema.jsonValue(),
               "rows": out[name].collect()}
        for name in _CACHED
    })
    return out | {"cached": False}


def build_context(
    hits: DataFrame,
    entities: DataFrame,
    chunks: DataFrame,
    max_entities: int = 10,
) -> str:
    """Context assembly (reference O24, graphrag.py:170-194), matching
    the reference's prompt shape: '=== Relevant Text Chunks ===' with
    per-chunk scores, then '=== Related Entities ===' with each entity
    as 'name (labels): properties' — labels ', '-joined and properties
    filtered of 'name'/'__'-prefixed keys, exactly as _build_context
    does. Driver-side by design — the inputs are already top-k-sized
    (≤ a few rows), so a collect here is O(k), not O(corpus)."""
    hit_rows = (
        hits.join(chunks.select("chunk_id", "text"), "chunk_id")
        .select("chunk_id", "combined_score", "text")
        .orderBy(F.desc("combined_score"), "chunk_id")
        .collect()
    )
    ent_rows = entities.limit(max_entities).collect()
    parts = ["=== Relevant Text Chunks ==="]
    for i, r in enumerate(hit_rows, 1):
        parts.append(f"\nChunk {i} (score: {r['combined_score']:.3f}):")
        parts.append(r["text"])
    if ent_rows:
        parts.append("\n\n=== Related Entities ===")
        for e in ent_rows:
            d = e.asDict()
            info = f"\n{d['name']} ({d.get('labels') or ''}):"
            if d.get("properties"):
                info += f" {d['properties']}"
            parts.append(info)
    return "\n".join(parts)


def graph_stats(kg_nodes: DataFrame, kg_edges: DataFrame) -> DataFrame:
    """Graph statistics surface — the reference reports entity/relation
    counts during traversal (neo4j_store.py:310-321); exposed here as
    one tidy frame: (dim, key, n) with per-label node counts, per-
    predicate edge counts, and totals. All algebraic aggregations
    (map-side partial agg; labels pre-exploded distinct) — scale-safe."""
    label_counts = (
        kg_nodes.select("canonical_id", F.explode("labels").alias("key"))
        .distinct()
        .groupBy("key")
        .agg(F.count("*").alias("n"))
        .select(F.lit("label").alias("dim"), "key", "n")
    )
    pred_counts = (
        kg_edges.groupBy(F.col("pred").alias("key"))
        .agg(F.count("*").alias("n"))
        .select(F.lit("pred").alias("dim"), "key", "n")
    )
    totals = (
        kg_nodes.select(F.lit("nodes").alias("key"))
        .groupBy("key").agg(F.count("*").alias("n"))
        .unionByName(
            kg_edges.select(F.lit("edges").alias("key"))
            .groupBy("key").agg(F.count("*").alias("n"))
        )
        .select(F.lit("total").alias("dim"), "key", "n")
    )
    return label_counts.unionByName(pred_counts).unionByName(totals)


def top_connected_entities(kg_edges: DataFrame, kg_nodes: DataFrame, k: int = 10) -> DataFrame:
    """Flagship query (SURVEY.md §7.2 M1): top-k canonical entities by
    degree (out+in) over the triple table, joined to node metadata.

    Output is scalar-only: `labels` (array<string>, already array_sort'd
    by dedup_nodes) is emitted comma-joined — nested columns break
    order-insensitive result canonicalization downstream (pandas
    sort_values can't factorize lists)."""
    degrees = (
        kg_edges.select(F.col("subj").alias("canonical_id"))
        .union(kg_edges.select(F.col("obj").alias("canonical_id")))
        .groupBy("canonical_id")
        .agg(F.count("*").alias("degree"))
    )
    return (
        degrees.join(
            kg_nodes.select(
                "canonical_id", "name", F.array_join("labels", ",").alias("labels")
            ),
            "canonical_id",
        )
        .orderBy(F.desc("degree"), F.col("canonical_id"))
        .limit(k)
    )
