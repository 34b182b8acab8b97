"""Unit tests for the pure-Python core, including byte-exact parity of
our chunker with the reference implementation loaded straight from
REF_PATH (it has no third-party imports, so it is importable).

The three chunker-parity tests need the reference checkout at REF_PATH
and are skipped where that file is absent; the other tests run
everywhere."""

import importlib.util
import os
import random
import string

import pytest

from kgspark import textops
from kgspark.fixtures import make_html, make_page, make_text


REF_PATH = "/root/reference/src/core/text_chunker.py"

needs_reference = pytest.mark.skipif(
    not os.path.exists(REF_PATH), reason=f"reference chunker not found at {REF_PATH}"
)


def _load_reference_chunker():
    spec = importlib.util.spec_from_file_location("ref_text_chunker", REF_PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.TextChunker


REF_CHUNKER = _load_reference_chunker() if os.path.exists(REF_PATH) else None


def _random_text(rng: random.Random, n_words: int) -> str:
    words = []
    for _ in range(n_words):
        w = "".join(rng.choices(string.ascii_letters + "éü'", k=rng.randint(1, 12)))
        words.append(w)
        if rng.random() < 0.2:
            words[-1] += rng.choice([".", "!", "?", "...", ".!?"])
        if rng.random() < 0.05:
            words[-1] += "\n\n"
    return " ".join(words)


@needs_reference
@pytest.mark.parametrize("seed", range(25))
def test_chunker_matches_reference_random(seed):
    rng = random.Random(seed)
    text = _random_text(rng, rng.randint(0, 400))
    size = rng.choice([50, 100, 500])
    overlap = rng.choice([0, 10, 100, 600])
    ref = REF_CHUNKER(chunk_size=size, chunk_overlap=overlap).chunk_text(text)
    got = textops.chunk_text(text, size, overlap)
    assert got == ref


@needs_reference
@pytest.mark.parametrize(
    "text",
    [
        "",
        "   ",
        "one sentence no terminator",
        "a. b! c? d.",
        "x" * 2000 + ". tail sentence here.",  # oversized single sentence
        "Exact boundary. " * 40,
        "trailing punctuation only.",
        "unicode ünïcodé sentence. 中文 text here. done!",
    ],
)
def test_chunker_matches_reference_edge_cases(text):
    for size, overlap in [(500, 100), (30, 10), (10, 50)]:
        ref = REF_CHUNKER(chunk_size=size, chunk_overlap=overlap).chunk_text(text)
        got = textops.chunk_text(text, size, overlap)
        assert got == ref


@needs_reference
def test_chunker_fixture_pages_match_reference():
    for doc_id in range(30):
        text = make_text(doc_id)
        ref = REF_CHUNKER().chunk_text(text)
        assert textops.chunk_text(text) == ref


def test_sanitize_label():
    # semantics of /root/reference/src/storage/neo4j_store.py:8-16
    assert textops.sanitize_label("") == "Entity"
    assert textops.sanitize_label(None) == "Entity"
    assert textops.sanitize_label("Legal Concept!") == "Legal_Concept_"
    assert textops.sanitize_label("9th Circuit") == "_9th_Circuit"
    assert textops.sanitize_label("_ok") == "_ok"
    assert textops.sanitize_label("SUES") == "SUES"


def test_validate_extraction_semantics():
    # semantics of /root/reference/src/core/entity_extractor.py:228-249
    result = textops.validate_extraction(
        {
            "nodes": [
                {"properties": {"id": "x", "name": "A"}},
                {"labels": [], "properties": {"name": "B"}},
            ],
            "relationships": [
                {"type": "SUES", "source": "A", "target": "B"},
                {"type": "SUES", "source": "A"},  # missing target -> dropped
            ],
        }
    )
    assert result["nodes"][0]["properties"] == {"identifier": "x", "name": "A"}
    assert result["nodes"][0]["labels"] == ["Entity"]
    assert result["nodes"][1]["labels"] == ["Entity"]
    assert len(result["relationships"]) == 1


def test_html_to_text_roundtrip_byte_identical():
    for doc_id in range(50):
        page = make_page(doc_id)
        if page["html"] is None:
            continue
        assert textops.html_to_text(page["html"]) == page["text"]


def test_html_to_text_general():
    html = (
        b"<html><head><title>t</title><style>p{}</style></head>"
        b"<body><h1>Head&amp;er</h1><p>one <b>two</b>\nthree</p>"
        b"<script>var x=1;</script><p></p><div>last</div></body></html>"
    )
    assert textops.html_to_text(html) == "Head&er\n\none two three\n\nlast"
    assert textops.html_to_text(None) is None


def test_extract_chunk_triggers():
    res = textops.extract_chunk(
        "the firm Acme Corp sues Northwind Bank over fees. "
        "Doe v. Smith cites Civil Rights Act."
    )
    names = {n["properties"]["name"] for n in res["nodes"]}
    assert "Acme Corp" in names and "Northwind Bank" in names
    rels = {(r["source"], r["type"], r["target"]) for r in res["relationships"]}
    assert ("Acme Corp", "SUES", "Northwind Bank") in rels
    assert any(r[1] == "CITES" for r in rels)


def test_extract_chunk_labels():
    res = textops.extract_chunk("the Supreme Court affirms Clean Air Act today.")
    by_name = {n["properties"]["name"]: n["labels"] for n in res["nodes"]}
    assert by_name["Supreme Court"] == ["Court"]
    assert by_name["Clean Air Act"] == ["Law", "Statute"]


def test_embed_deterministic_and_normalized():
    v1 = textops.embed_text("hello world hello", dim=64)
    v2 = textops.embed_text("hello world hello", dim=64)
    assert v1 == v2
    norm = sum(x * x for x in v1) ** 0.5
    assert abs(norm - 1.0) < 1e-9
    assert textops.embed_text("", dim=8) == [0.0] * 8


def test_make_html_escaping_roundtrip():
    text = "a <b> & 'quote' é.\n\nsecond para."
    html = make_html(text, "t")
    assert textops.html_to_text(html) == text
