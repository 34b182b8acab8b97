"""S5 — entity linking: similarity edge list over entity names.

Two modes (SURVEY.md §7.2 M3):
  * "exact"  — name equality only (self-pairs). This is the degenerate
    similarity that reproduces the reference's MERGE-on-name semantics
    (neo4j_store.py:90) and is the default for the P/R gate.
  * "lsh"    — additive MinHash-banded blocking on character 3-gram
    shingles of the lowercased name, then exact Jaccard scoring on
    candidate pairs with a threshold. DataFrame-native (explode +
    min-agg + band bucket self-join), no MLlib dependency: at 10^12
    scale the candidate join is the only shuffle, keyed on (band, sig)
    buckets, so no O(n^2) pair enumeration ever materializes.
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


def lsh_candidate_edges(
    names: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """MinHash + banding + exact-Jaccard verification.

    signatures: for hash seed i, sig_i = min over shingles of
    xxhash64(shingle, i). Band key = hash of the band's signature slice.
    Candidates = pairs sharing any band bucket (name_a < name_b to halve
    the join). Verified score = |A∩B| / |A∪B| over distinct shingles.
    """
    rows_per_band = n_hashes // bands
    sh = shingle_df(names, shingle_n).localCheckpoint(eager=True)

    sigs = sh.groupBy("name").agg(
        *[
            F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    )
    band_cols = [
        F.xxhash64(
            F.lit(b), *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sigs.select("name", *band_cols)
    buckets = banded.select(
        "name",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("sig"))
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("name", F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))

    left = buckets.select(
        F.col("band"), F.col("sig"), F.col("name").alias("name_a")
    )
    right = buckets.select(
        F.col("band").alias("band2"), F.col("sig").alias("sig2"),
        F.col("name").alias("name_b"),
    )
    cands = (
        left.join(
            right,
            (left["band"] == right["band2"])
            & (left["sig"] == right["sig2"])
            & (left["name_a"] < right["name_b"]),
        )
        .select("name_a", "name_b")
        .distinct()
    )

    # exact Jaccard on candidates via shingle-set join
    sa = sh.select(F.col("name").alias("name_a"), F.col("shingle").alias("sh_a"))
    sb = sh.select(F.col("name").alias("name_b"), F.col("shingle").alias("sh_b"))
    inter = (
        cands.join(sa, "name_a")
        .join(sb, "name_b")
        .filter(F.col("sh_a") == F.col("sh_b"))
        .groupBy("name_a", "name_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = sh.groupBy("name").agg(F.count("*").alias("n_sh"))
    scored = (
        inter.join(
            sizes.select(F.col("name").alias("name_a"), F.col("n_sh").alias("na")),
            "name_a",
        )
        .join(
            sizes.select(F.col("name").alias("name_b"), F.col("n_sh").alias("nb")),
            "name_b",
        )
        .select(
            "name_a",
            "name_b",
            (
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("score"),
            F.lit("lsh").alias("kind"),
        )
        .filter(F.col("score") >= threshold)
    )
    return scored


def similarity_edges(
    mentions: DataFrame,
    mode: str = "exact",
    **lsh_kwargs,
) -> DataFrame:
    """mentions -> sim_edges(name_a, name_b, score, kind).

    Exact-name self-pairs are ALWAYS included (guarantees reference-
    parity merging); LSH pairs are additive when mode="lsh"
    (SURVEY.md §7.2 M3). Any other mode raises ValueError.
    """
    check_link_mode(mode)
    names = mentions.select("name").distinct()
    edges = exact_edges(names)
    if mode == "lsh":
        edges = edges.unionByName(lsh_candidate_edges(names, **lsh_kwargs))
    return edges
