"""Parallelism-invariance (SURVEY.md §5.2-5): identical stage contents
regardless of input partitioning — the sandbox proxy for the
two-cluster-size identical-output requirement."""

from kgspark.fixtures import pages_df
from kgspark.pipeline import build_kg_frames

N = 40


def _signatures(spark, partitions):
    frames = build_kg_frames(spark, pages_df(spark, N, partitions=partitions))
    sig = {}
    sig["chunks"] = sorted(
        (r["chunk_id"], r["start_char"], r["text"])
        for r in frames["chunks"].collect()
    )
    sig["nodes"] = sorted(
        (r["canonical_id"], r["name"], tuple(r["labels"]),
         tuple(sorted(r["properties"].items())))
        for r in frames["kg_nodes"].collect()
    )
    sig["edges"] = sorted(
        (r["subj"], r["pred"], r["obj"], r["subj_hash"],
         tuple(sorted(r["properties"].items())))
        for r in frames["kg_edges"].collect()
    )
    return sig


def test_output_invariant_under_partitioning(spark):
    a = _signatures(spark, 2)
    b = _signatures(spark, 13)
    assert a["chunks"] == b["chunks"]
    assert a["nodes"] == b["nodes"]
    assert a["edges"] == b["edges"]


def test_corpus_ops_invariant_under_partitioning(spark):
    """The r3 corpus operators must emit identical rows at any input
    partitioning — the property that makes their outputs valid
    training-set decisions on clusters of any size."""
    from pyspark.sql import functions as F

    from kgspark import dataops
    from kgspark.bpe import bpe_train

    rows = [
        (i,
         ("spark shuffles data across partitions " * (1 + i % 3))
         + f"unique token{i} tail{i % 7}",
         "en")
        for i in range(60)
    ]
    ddl = "doc_id long, text string, lang string"

    def run(parts):
        d = spark.createDataFrame(rows, ddl).repartition(parts)
        out = {}
        out["pd"] = sorted(map(tuple, dataops.paragraph_dedup(
            d, min_docs=2, mode="window", words_per_para=4).collect()))
        out["lm"] = sorted(map(tuple, dataops.unigram_lm_score(d).collect()))
        out["qc"] = sorted(map(tuple, dataops.quality_classifier(d).collect()))
        out["pj"] = sorted(map(tuple, dataops.prefix_jaccard_join(
            d, threshold=0.3).collect()))
        out["ws"] = [tuple(r) for r in dataops.weighted_sample(
            d.withColumn("w", F.length("text").cast("double")), "w", k=20
        ).collect()]  # ordered output must match exactly
        out["bpe"] = [tuple(r) for r in bpe_train(
            d, n_merges=5).orderBy("rank").collect()]
        out["ent"] = sorted(map(tuple, dataops.char_entropy(d).collect()))
        out["ck"] = tuple(dataops.table_checksum(
            d, cols=["doc_id", "text"]).first())
        return out

    a, b = run(2), run(11)
    for k in a:
        assert a[k] == b[k], f"{k} differs across partitioning"


def test_r4_ops_invariant_under_partitioning(spark):
    """Same property for the round-4 operators: identical rows at any
    input partitioning (cluster-size-independent training decisions)."""
    from kgspark import dataops
    from kgspark.cc import degree_histogram, negative_edges

    rows = [
        (i,
         ("the quick brown fox jumps over the lazy dog " * (1 + i % 2))
         + f"unique token{i}",
         f"src{i % 4}")
        for i in range(40)
    ]
    docs_ddl = "doc_id long, text string, source string"
    edges = [(i % 13, (i * 7) % 13) for i in range(40)]

    def run(parts):
        d = spark.createDataFrame(rows, docs_ddl).repartition(parts)
        e = spark.createDataFrame(edges, "src long, dst long").repartition(parts)
        emb = spark.createDataFrame(
            [(i, [float((i * j) % 7 - 3) for j in range(8)]) for i in range(30)],
            "vec_id long, embedding array<float>",
        ).repartition(parts)
        cents = [[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]]
        out = {}
        out["mix"] = sorted(map(tuple, dataops.source_mix_report(d).collect()))
        out["ovl"] = sorted(map(tuple, dataops.source_overlap(
            d, prefix_tokens=5).collect()))
        out["pss"] = sorted(map(tuple, dataops.per_source_sample(d, k=2).collect()))
        out["zipf"] = [tuple(r) for r in dataops.zipf_slope(d, top_n=20).collect()]
        out["pmi"] = [tuple(r) for r in dataops.collocations_pmi(
            d, min_count=5, k=10).collect()]
        out["ppl"] = sorted(map(tuple, dataops.lm_perplexity_buckets(d).collect()))
        out["sdd"] = sorted(map(tuple, dataops.semantic_dedup_pairs(
            emb, cents, threshold=0.2).collect()))
        out["inertia"] = [tuple(r) for r in dataops.kmeans_inertia(emb, cents).collect()]
        out["ens"] = [tuple(r) for r in dataops.embedding_norm_stats(emb).collect()]
        out["dh"] = [tuple(r) for r in degree_histogram(e).collect()]
        out["neg"] = [tuple(r) for r in negative_edges(e, k=10, n_buckets=4).collect()]
        return out

    a, b = run(2), run(9)
    for k in a:
        assert a[k] == b[k], f"{k} differs across partitioning"
