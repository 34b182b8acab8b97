"""Entity linking: exact mode = self-pairs only; LSH mode finds
near-duplicate names via minhash-banded blocking + exact Jaccard."""

import random

import pytest
from pyspark.sql import functions as F

from kgspark.linking import similarity_edges
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


def _lsh_pairs(mentions, **kw):
    return {
        (r["name_a"], r["name_b"]): r["score"]
        for r in similarity_edges(mentions, mode="lsh", **kw)
        .filter(F.col("kind") == "lsh")
        .collect()
    }


def test_lsh_finds_near_duplicates(spark):
    m = _mentions(
        spark,
        [
            "Acme Corporation",
            "Acme Corporatio",   # near-dup (one char dropped)
            "Globex Holdings",
            "Globex Holdings Ltd",
            "Zzz Unrelated Name",
        ],
    )
    pairs = _lsh_pairs(m, n_hashes=32, bands=16, threshold=0.5)
    assert ("Acme Corporatio", "Acme Corporation") in pairs
    assert ("Globex Holdings", "Globex Holdings Ltd") in pairs
    assert not any("Zzz Unrelated Name" in p for p in pairs)
    assert all(0.5 <= s <= 1.0 for s in pairs.values())


def _seeded_names(seed, n_base=20):
    """Base names plus one-edit, dropped-char and suffix variants."""
    rng = random.Random(seed)
    syll = ["ac", "me", "glo", "bex", "ini", "tech", "nor", "wind", "um",
            "bra", "corp", "sys", "zen", "ola", "vik", "tor", "lux", "ary"]
    names = set()
    for _ in range(n_base):
        base = " ".join(
            "".join(rng.choice(syll) for _ in range(rng.randint(2, 3)))
            .capitalize()
            for _ in range(rng.randint(1, 3))
        )
        names.add(base)
        i = rng.randrange(len(base))
        names.add(base[:i] + base[i + 1:])
        j = rng.randrange(len(base))
        names.add(base[:j] + rng.choice("aeiouxz") + base[j + 1:])
        names.add(base + rng.choice([" Inc", " Ltd", " Group", "s"]))
    return sorted(n for n in names if n.strip())


def _char3(name):
    s = name.lower()
    return {s[i:i + 3] for i in range(max(len(s) - 2, 1))}


@pytest.mark.parametrize(
    "kw",
    [{}, {"n_hashes": 32, "bands": 16, "threshold": 0.5}],
    ids=["defaults", "32x16_t0.5"],
)
def test_lsh_scores_match_brute_force_jaccard(spark, kw):
    """Every LSH pair is a true pair of a brute-force Python Jaccard over
    the same lowercased char-3-gram sets, with the same score; the
    blocking may miss pairs, but never invents or misscores one."""
    names = _seeded_names(11)
    threshold = kw.get("threshold", 0.6)
    truth = {}
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            sa, sb = _char3(a), _char3(b)
            jac = len(sa & sb) / len(sa | sb)
            if jac >= threshold:
                truth[(a, b)] = jac
    got = _lsh_pairs(_mentions(spark, names), **kw)
    assert len(got) >= 10
    for pair, score in got.items():
        assert pair in truth, pair
        assert score == truth[pair] and score >= threshold


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
