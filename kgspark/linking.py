"""S5 — entity linking: similarity edge list over entity names.

Two modes (SURVEY.md §7.2 M3):
  * "exact"  — name equality only (self-pairs). This is the degenerate
    similarity that reproduces the reference's MERGE-on-name semantics
    (neo4j_store.py:90) and is the default for the P/R gate.
  * "lsh"    — additive MinHash-banded blocking on character 3-gram
    shingles of the lowercased name, then exact Jaccard scoring on
    candidate pairs with a threshold. It is the MinHash kernel of
    document near-dup (dataops._minhash_pairs) run over shingle_df:
    explode + min-agg + the band-bucket self-join, no MLlib dependency.
    At 10^12 scale the candidate join is the only shuffle, keyed on
    (band, key) buckets, so no O(n^2) pair enumeration ever
    materializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SIM_EDGES_DDL = "name_a string, name_b string, score double, kind string"

LINK_MODES = ("exact", "lsh")


def check_link_mode(mode: str) -> None:
    if mode not in LINK_MODES:
        raise ValueError(
            f"unknown link_mode {mode!r}; expected one of {LINK_MODES}"
        )


def exact_edges(names: DataFrame) -> DataFrame:
    """Self-pairs: every name links to itself (identity canonicalization)."""
    return names.select(
        F.col("name").alias("name_a"),
        F.col("name").alias("name_b"),
        F.lit(1.0).alias("score"),
        F.lit("exact").alias("kind"),
    )


def shingle_df(names: DataFrame, n: int = 3) -> DataFrame:
    """Distinct character n-gram shingles of lower(name) — JVM-side
    (sequence + transform + substr stay in whole-stage codegen)."""
    lowered = F.lower(F.col("name"))
    return names.select(
        "name",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.length(lowered) - (n - 1), F.lit(1))
                    ),
                    lambda i: lowered.substr(i, F.lit(n)),
                )
            )
        ).alias("shingle"),
    )


def similarity_edges(
    mentions: DataFrame,
    mode: str = "exact",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """mentions -> sim_edges(name_a, name_b, score, kind).

    Exact-name self-pairs are ALWAYS included (guarantees reference-
    parity merging); LSH pairs are additive when mode="lsh"
    (SURVEY.md §7.2 M3): dataops._minhash_pairs over shingle_df(names,
    shingle_n), score = exact Jaccard >= threshold, name_a < name_b.
    Any other mode raises ValueError.
    """
    check_link_mode(mode)
    names = mentions.select("name").distinct()
    edges = exact_edges(names)
    if mode == "lsh":
        from .dataops import _minhash_pairs  # noqa: PLC0415

        sh = shingle_df(names, shingle_n).localCheckpoint(eager=True)
        pairs = _minhash_pairs(
            sh.select(F.col("name").alias("doc_id"), "shingle"),
            n_hashes, bands, threshold,
        )
        edges = edges.unionByName(
            pairs.select(
                F.col("doc_a").alias("name_a"),
                F.col("doc_b").alias("name_b"),
                F.col("jaccard").alias("score"),
                F.lit("lsh").alias("kind"),
            )
        )
    return edges
