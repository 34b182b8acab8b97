"""Pure-Python text operators shared by the Spark UDFs and the single-node oracle.

Having one implementation imported from both sides is what makes the
per-url byte-identity invariant (BASELINE.json input_hint) and the
triple P/R target mechanically checkable: any divergence between the
distributed run and the oracle measures *pipeline* fidelity (chunk
boundaries, dedup, ordering, linking), never extractor drift.

Reference-parity notes (file:line cites into /root/reference):
  * chunk_text / split_sentences replicate src/core/text_chunker.py:10-91
    exactly, including the cumulative ``start_char`` quirk (:27,:57) and
    the overlap-seeding " " join (:44).
  * sanitize_label replicates src/storage/neo4j_store.py:8-16.
  * validation semantics (labels default, id->identifier rename, drop of
    relationships missing type/source/target) replicate
    src/core/entity_extractor.py:228-249; our rule extractor emits
    already-valid output, and validate_extraction() is still applied so
    foreign extractors plug in with reference semantics.
  * The LLM extractor (src/core/entity_extractor.py:133-169) is replaced
    by the deterministic rule extractor below — the only reproducible
    choice in a hermetic environment (SURVEY.md §7.3).

No Spark imports here: this module ships to executors inside UDF closures.
"""

from __future__ import annotations

import hashlib
import html as _html
import re
from typing import Any

# --------------------------------------------------------------------------
# S1: HTML -> text extraction
# --------------------------------------------------------------------------

_SCRIPT_STYLE_RE = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_HEAD_RE = re.compile(r"<head\b[^>]*>.*?</head\s*>", re.IGNORECASE | re.DOTALL)
# block-level boundaries become paragraph breaks
_BLOCK_TAG_RE = re.compile(
    r"</?(?:p|div|h[1-6]|li|ul|ol|table|tr|td|th|section|article|header|footer|"
    r"blockquote|pre|figure|nav|aside)\b[^>]*>|<br\s*/?>",
    re.IGNORECASE,
)
_ANY_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"[ \t\r\f\v]+")


def html_to_text(html_bytes: bytes | bytearray | None) -> str | None:
    """Deterministic HTML -> plain-text extraction.

    Block-level tags delimit paragraphs; inline tags are stripped;
    entities are unescaped; intra-block whitespace is collapsed to single
    spaces; blocks are joined with "\\n\\n". Returns None for null input
    (caller falls back to the pages.text column).
    """
    if html_bytes is None:
        return None
    raw = bytes(html_bytes).decode("utf-8", errors="replace")
    raw = _COMMENT_RE.sub(" ", raw)
    raw = _SCRIPT_STYLE_RE.sub(" ", raw)
    raw = _HEAD_RE.sub(" ", raw)
    # paragraph boundaries
    raw = _BLOCK_TAG_RE.sub("\x00", raw)
    raw = _ANY_TAG_RE.sub(" ", raw)
    blocks = []
    for block in raw.split("\x00"):
        block = _html.unescape(block)
        block = _WS_RE.sub(" ", block.replace("\n", " ")).strip()
        if block:
            blocks.append(block)
    return "\n\n".join(blocks)


# --------------------------------------------------------------------------
# S2: sentence split + chunk assembly (reference text_chunker semantics)
# --------------------------------------------------------------------------

_SENTENCE_SPLIT_RE = re.compile(r"([.!?]+)\s+")


def split_sentences(text: str) -> list[str]:
    """Sentence splitter with the exact semantics of
    /root/reference/src/core/text_chunker.py:70-86 (re.split on a captured
    terminator group, re-pair sentence+punctuation, keep a non-empty odd
    trailing element)."""
    parts = _SENTENCE_SPLIT_RE.split(text)
    out: list[str] = []
    for i in range(0, len(parts) - 1, 2):
        sent = parts[i] + parts[i + 1] if i + 1 < len(parts) else parts[i]
        if sent.strip():
            out.append(sent.strip())
    if len(parts) % 2 == 1 and parts[-1].strip():
        out.append(parts[-1].strip())
    return out


def chunk_text(
    text: str | None, chunk_size: int = 500, chunk_overlap: int = 100
) -> list[dict[str, Any]]:
    """Greedy sentence-packing chunker, byte-compatible with
    /root/reference/src/core/text_chunker.py:10-68.

    Quirks preserved on purpose (SURVEY.md §7.3):
      * ``start_char`` is the cumulative length of previously *emitted*
        chunk texts, not a source offset (:27,:57).
      * overlap seed = last ``chunk_overlap`` chars of the previous
        accumulator + " " + next sentence (:40-48, :88-91).
      * a single sentence longer than chunk_size is never split.
    """
    if not text:
        return []
    text = text.strip()
    sentences = split_sentences(text)

    chunks: list[dict[str, Any]] = []
    current = ""
    current_len = 0
    chunk_index = 0
    emitted_chars = 0  # running sum(len(c["text"])) — the start_char quirk

    for sentence in sentences:
        if current_len + len(sentence) > chunk_size and current:
            emitted = current.strip()
            chunks.append(
                {
                    "text": emitted,
                    "chunk_index": chunk_index,
                    "start_char": emitted_chars,
                    "end_char": emitted_chars + len(emitted),
                }
            )
            emitted_chars += len(emitted)
            chunk_index += 1
            if chunk_overlap > 0:
                tail = current if len(current) <= chunk_overlap else current[-chunk_overlap:]
                current = tail + " " + sentence
            else:
                current = sentence
            current_len = len(current)
        else:
            current = current + " " + sentence if current else sentence
            current_len = len(current)

    if current:
        emitted = current.strip()
        chunks.append(
            {
                "text": emitted,
                "chunk_index": chunk_index,
                "start_char": emitted_chars,
                "end_char": emitted_chars + len(emitted),
            }
        )
    return chunks


def chunk_id_for(url: str, chunk_index: int) -> str:
    """Deterministic chunk id (divergence from the reference's
    uuid4+batch-offset ids at kg_builder.py:140-148 — documented in
    SURVEY.md O7; ids only need uniqueness + determinism)."""
    return f"{url}#chunk{chunk_index}"


# --------------------------------------------------------------------------
# S3: deterministic hashing-trick embedding (replaces OpenAI embeddings)
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(r"[a-z0-9]+")


def embed_text(text: str | None, dim: int = 64) -> list[float]:
    """Signed hashing-trick bag-of-tokens featurizer, L2-normalized.

    Deterministic stand-in for src/core/embeddings.py:28-45 (OpenAI
    text-embedding-3-large, cosine space per qdrant_store.py:37-39).
    md5 is used as the hash so Python and any re-implementation agree
    byte-for-byte across platforms.
    """
    vec = [0.0] * dim
    if text:
        for tok in _TOKEN_RE.findall(text.lower()):
            d = hashlib.md5(tok.encode("utf-8")).digest()
            idx = int.from_bytes(d[:4], "big") % dim
            sign = 1.0 if d[4] & 1 else -1.0
            vec[idx] += sign
    norm = sum(v * v for v in vec) ** 0.5
    if norm > 0.0:
        vec = [v / norm for v in vec]
    return vec


# --------------------------------------------------------------------------
# S4: deterministic rule-based entity/relation extraction
# --------------------------------------------------------------------------

_CAP_WORD = r"[A-Z][A-Za-z0-9&'\-]*"
_CONNECTOR = r"(?:of|the|for|and|de|la|von|van|v\.?|vs\.?)"
# A mention is >=2 capitalized words, optionally joined by lowercase
# connector words ("Civil Rights Act", "Doe v. Smith", "Bank of America").
_ENTITY_RE = re.compile(
    rf"\b{_CAP_WORD}(?:\s+(?:{_CONNECTOR}\s+)?{_CAP_WORD})+"
)

# The extractor scopes relations to sentences using an abbreviation-aware
# boundary (NOT the reference chunker splitter above, which cuts at
# "v. " and would sever case names like "Doe v. Smith").
_SENT_BOUND_RE = re.compile(r"(?<=[.!?])\s+")
_ABBREV_END_RE = re.compile(r"\b(?:v|vs|Mr|Mrs|Ms|Dr|No|Inc|Corp|Ltd|St)\.$")


def extraction_sentences(text: str) -> list[str]:
    parts = _SENT_BOUND_RE.split(text)
    out: list[str] = []
    for part in parts:
        if out and _ABBREV_END_RE.search(out[-1]):
            out[-1] = out[-1] + " " + part
        else:
            out.append(part)
    return [p for p in out if p.strip()]

# trigger verb -> relationship type (vocabulary mirrors the reference
# prompt's suggested types, src/core/entity_extractor.py:27-33)
RELATION_TRIGGERS: dict[str, str] = {
    "sues": "SUES", "sued": "SUES",
    "represents": "REPRESENTS", "represented": "REPRESENTS",
    "defends": "DEFENDS", "defended": "DEFENDS",
    "prosecutes": "PROSECUTES",
    "violates": "VIOLATES", "violated": "VIOLATES",
    "enforces": "ENFORCES", "enforced": "ENFORCES",
    "interprets": "INTERPRETS",
    "applies": "APPLIES",
    "references": "REFERENCES",
    "cites": "CITES", "cited": "CITES",
    "overrules": "OVERRULES",
    "affirms": "AFFIRMS", "affirmed": "AFFIRMS",
    "amends": "AMENDS", "amended": "AMENDS",
    "repeals": "REPEALS",
    "supersedes": "SUPERSEDES",
    "contains": "CONTAINS",
    "defines": "DEFINES",
    "establishes": "ESTABLISHES",
    "prohibits": "PROHIBITS",
    "requires": "REQUIRES",
    "permits": "PERMITS",
    "authorizes": "AUTHORIZES",
    "mandates": "MANDATES",
}

_TRIGGER_RE = re.compile(
    r"\b(" + "|".join(sorted(RELATION_TRIGGERS, key=len, reverse=True)) + r")\b",
    re.IGNORECASE,
)

_ORG_SUFFIX_RE = re.compile(
    r"\b(?:Corp|Corporation|Inc|LLC|LLP|Ltd|Company|Group|Partners|Bank)\.?$"
)
_LAW_WORD_RE = re.compile(r"\b(?:Act|Law|Code|Statute|Regulation|Amendment|Treaty)\b")
_COURT_WORD_RE = re.compile(r"\bCourt\b")
_CONTRACT_WORD_RE = re.compile(r"\b(?:Agreement|Contract|Clause|Provision)\b")
_CASE_RE = re.compile(r"\s[vV]\.?\s")


def labels_for(name: str) -> list[str]:
    """Deterministic label assignment by surface form; the label
    vocabulary follows the reference prompt (entity_extractor.py:19-25)."""
    if _CASE_RE.search(name):
        return ["Case"]
    if _COURT_WORD_RE.search(name):
        return ["Court"]
    if _LAW_WORD_RE.search(name):
        return ["Law", "Statute"]
    if _CONTRACT_WORD_RE.search(name):
        return ["Contract"]
    if _ORG_SUFFIX_RE.search(name):
        return ["Organization", "Party"]
    return ["Entity"]


def extract_chunk(text: str) -> dict[str, Any]:
    """Extract {nodes, relationships} from one chunk of text.

    Mentions: maximal spans of >=2 capitalized words (connectors allowed).
    Relations: for each trigger verb occurrence, subject = nearest mention
    ending at/before the trigger within the same sentence, object = nearest
    mention starting after it; emit (subject, TYPE, object).

    Output shape matches the validated LLM output contract
    (src/core/entity_extractor.py:228-249): nodes carry labels +
    properties (with a mandatory "name"), relationships carry
    type/source/target/properties.
    """
    nodes: dict[str, dict[str, Any]] = {}
    relationships: list[dict[str, Any]] = []

    for sentence in extraction_sentences(text):
        mentions = [
            (m.start(), m.end(), m.group(0)) for m in _ENTITY_RE.finditer(sentence)
        ]
        for _, _, name in mentions:
            if name not in nodes:
                nodes[name] = {
                    "labels": labels_for(name),
                    "properties": {"name": name},
                }
        if len(mentions) < 2:
            continue
        for tm in _TRIGGER_RE.finditer(sentence):
            subj = None
            for s, e, name in mentions:
                if e <= tm.start():
                    subj = name  # rightmost mention ending before trigger
                elif s >= tm.end():
                    break
            obj = next(
                (name for s, _, name in mentions if s >= tm.end()), None
            )
            if subj is not None and obj is not None and subj != obj:
                relationships.append(
                    {
                        "type": RELATION_TRIGGERS[tm.group(1).lower()],
                        "source": subj,
                        "target": obj,
                        "properties": {},
                    }
                )

    return validate_extraction(
        {"nodes": list(nodes.values()), "relationships": relationships}
    )


def validate_extraction(result: dict[str, Any]) -> dict[str, Any]:
    """Reference validation semantics, src/core/entity_extractor.py:228-249:
    default missing arrays, rename property 'id'->'identifier', default
    labels to ["Entity"], drop relationships missing type/source/target."""
    result.setdefault("nodes", [])
    result.setdefault("relationships", [])
    for node in result["nodes"]:
        props = node.get("properties")
        if isinstance(props, dict) and "id" in props:
            props["identifier"] = props.pop("id")
    for node in result["nodes"]:
        if not node.get("labels"):
            node["labels"] = ["Entity"]
    result["relationships"] = [
        rel
        for rel in result["relationships"]
        if all(k in rel for k in ("type", "source", "target"))
    ]
    return result


# --------------------------------------------------------------------------
# label/type sanitization (reference neo4j_store.sanitize_label semantics)
# --------------------------------------------------------------------------

_SANITIZE_RE = re.compile(r"[^a-zA-Z0-9_]")


def sanitize_label(label: str | None) -> str:
    """src/storage/neo4j_store.py:8-16: non-[A-Za-z0-9_] -> '_', prepend
    '_' when the first char is neither alphabetic nor '_', empty -> Entity."""
    if not label:
        return "Entity"
    out = _SANITIZE_RE.sub("_", label)
    if out and not out[0].isalpha() and out[0] != "_":
        out = "_" + out
    return out or "Entity"
