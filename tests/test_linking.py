"""Entity linking: exact mode = self-pairs only; LSH mode finds
near-duplicate names via minhash-banded blocking + exact Jaccard."""

import pytest
from pyspark.sql import functions as F

from kgspark.linking import lsh_candidate_edges, similarity_edges
from kgspark.pipeline import Pipeline

MENTIONS_DDL = "name string, url string, chunk_index int"


def _mentions(spark, names):
    return spark.createDataFrame(
        [(n, "u", 0) for n in names], MENTIONS_DDL
    )


def test_exact_mode_self_pairs(spark):
    m = _mentions(spark, ["Acme Corp", "Acme Corp", "Globex"])
    rows = similarity_edges(m, mode="exact").collect()
    assert {(r["name_a"], r["name_b"]) for r in rows} == {
        ("Acme Corp", "Acme Corp"),
        ("Globex", "Globex"),
    }
    assert all(r["kind"] == "exact" and r["score"] == 1.0 for r in rows)


def test_lsh_finds_near_duplicates(spark):
    names = spark.createDataFrame(
        [
            ("Acme Corporation",),
            ("Acme Corporatio",),   # near-dup (one char dropped)
            ("Globex Holdings",),
            ("Globex Holdings Ltd",),
            ("Zzz Unrelated Name",),
        ],
        "name string",
    )
    pairs = {
        (r["name_a"], r["name_b"]): r["score"]
        for r in lsh_candidate_edges(
            names, n_hashes=32, bands=16, threshold=0.5
        ).collect()
    }
    assert ("Acme Corporatio", "Acme Corporation") in pairs
    assert ("Globex Holdings", "Globex Holdings Ltd") in pairs
    assert not any("Zzz Unrelated Name" in p for p in pairs)
    assert all(0.5 <= s <= 1.0 for s in pairs.values())


def test_lsh_mode_merges_aliases_through_cc(spark):
    from kgspark.cc import connected_components

    m = _mentions(
        spark, ["Acme Corporation", "Acme Corporatio", "Northwind Bank"]
    )
    sim = similarity_edges(m, mode="lsh", n_hashes=32, bands=16, threshold=0.5)
    canon = connected_components(
        m.select("name").distinct(), sim.select("name_a", "name_b")
    )
    got = {r["name"]: r["canonical_id"] for r in canon.collect()}
    assert got["Acme Corporation"] == got["Acme Corporatio"]
    assert got["Northwind Bank"] == "Northwind Bank"


def test_unknown_link_mode_fails_loudly(spark, tmp_path):
    """A mode outside {"exact", "lsh"} is an error in both places that
    read it: a case typo used to link exact-only in similarity_edges
    while the Pipeline joined the canonical map as if it were lsh."""
    m = _mentions(spark, ["Acme Corp"])
    for mode in ("LSH", "Exact", "", "minhash"):
        with pytest.raises(ValueError, match="link_mode"):
            similarity_edges(m, mode=mode)
        with pytest.raises(ValueError, match="link_mode"):
            Pipeline(str(tmp_path / "wh"), link_mode=mode)
    assert Pipeline(str(tmp_path / "wh"), link_mode="lsh").params[
        "link_mode"] == "lsh"
