"""Seeded page and query generator for the benchmark.

Every page is a pure function of (seed, doc_id); the entity vocabulary and
its Zipf weights are a pure function of the seed. The program under test
only ever sees the generated pages (as parquet files) and query strings.

Why not `kgspark.fixtures`: its 24-name gazetteer makes S7 group on 24
keys, so the merge stages see almost no distinct entities. Here entity
names come from a long-tail vocabulary drawn with Zipf weights, so node
dedup and edge materialization aggregate over thousands of keys, as they
would on a crawl.

Entity names are two or three capitalized pseudo-words (sometimes with an
organisation/law/court/contract suffix), which is exactly what the rule
extractor's ">= 2 capitalized words" pattern picks up. Every filler word
is lowercase and no filler word is a relation trigger, so mentions never
run into each other and each relational sentence yields one triple.
"""

from __future__ import annotations

import bisect
import datetime as _dt
import html as _html
import itertools
import os
import random

# Generator parameters. The chosen value of each, and why:
PARAMS = {
    # ~8 KB of text per page is the size of a Common-Crawl text capture,
    # so the S1-S4 kernels see realistic input sizes
    "page_kb": 8,
    # pages per corpus in upload_full: a fresh upload takes 7-9 s on 4 cores
    # (most of it per-job overhead; 40 pages take nearly as long), so a
    # run measures two uploads
    "pages": 160,
    # long-tail vocabulary: with Zipf 1.1 over 20k names a 160-page corpus
    # mentions ~3.9k distinct entities, most of them once
    "vocab": 20_000,
    "zipf_s": 1.1,
    # one hot entity in ~30% of pages: the skew the S7 joins guard against
    "hot_share": 0.3,
    # search: pages in the warehouse built in set-up; 1 in 4 ops repeats an
    # earlier query within the cache TTL, so hits and misses both show
    "base_pages": 160,
    "query_repeat_every": 4,
    # bpe probe: merges learned per bpe_train call. bpe_train runs one
    # Spark job per merge, so 12 merges already dominate the layer's cost
    "bpe_merges": 12,
}

LANGS = ["en", "es", "de", "fr", "zh"]
SOURCES = [f"src{i}" for i in range(20)]

_SYLLABLES = (
    "ba be bi bo bu da de di do du ka ke ki ko ku la le li lo lu ma me mi "
    "mo mu na ne ni no nu ra re ri ro ru sa se si so su ta te ti to tu va "
    "ve vi vo vu za ze zi zo zu bra dre kri plo stu tor ven mar del rin"
).split()
_SUFFIXES = ["Corp", "Group", "Bank", "Partners", "Act", "Code", "Court",
             "Agreement", "Contract", "Holdings"]

# lowercase only, and none of them is a relation trigger or a connector
# followed by a capitalized word, so entity spans stay maximal
FILLER = (
    "the quick brown fox jumps over a lazy dog while many small firms review "
    "annual filings and local analysts compare quarterly results across "
    "several regional markets noting steady growth in demand for new "
    "services during a long period of careful planning with public records "
    "showing modest gains at most branches under new management after two "
    "years spent rebuilding trust among clients who had doubts about prior "
    "reports on costs staff levels and future plans for expansion into "
    "nearby towns where rivals hold strong positions today"
).split()

TRIGGERS = [
    "sues", "represents", "defends", "violates", "enforces", "interprets",
    "cites", "affirms", "amends", "supersedes", "establishes", "mandates",
]


def _word(rng: random.Random) -> str:
    w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3)))
    return w.capitalize()


def vocabulary(seed: int, size: int) -> tuple[list[str], list[float], str]:
    """(names in rank order, cumulative Zipf weights, hot entity name)."""
    rng = random.Random(f"vocab:{seed}")
    names: list[str] = []
    seen: set[str] = set()
    while len(names) < size + 1:
        parts = [_word(rng) for _ in range(rng.choice((2, 2, 3)))]
        if rng.random() < 0.3:
            parts.append(rng.choice(_SUFFIXES))
        name = " ".join(parts)
        if name not in seen:
            seen.add(name)
            names.append(name)
    hot, names = names[0], names[1:]
    cum = list(itertools.accumulate(
        1.0 / (r + 1) ** PARAMS["zipf_s"] for r in range(size)
    ))
    return names, cum, hot


class Corpus:
    """Pages and queries for one seed."""

    def __init__(self, seed: int):
        self.seed = seed
        self.names, self._cum, self.hot = vocabulary(seed, PARAMS["vocab"])

    def _name(self, rng: random.Random) -> str:
        x = rng.random() * self._cum[-1]
        return self.names[bisect.bisect_left(self._cum, x)]

    def _filler(self, rng: random.Random, lo: int, hi: int) -> str:
        return " ".join(rng.choices(FILLER, k=rng.randint(lo, hi)))

    def text(self, doc_id: int) -> str:
        rng = random.Random(f"page:{self.seed}:{doc_id}")
        target = int(PARAMS["page_kb"] * 1024 * rng.uniform(0.75, 1.25))
        hot = rng.random() < PARAMS["hot_share"]
        sentences: list[str] = []
        size = 0
        while size < target:
            kind = rng.random()
            if kind < 0.45:
                a = self.hot if hot and not sentences else self._name(rng)
                b = self._name(rng)
                while b == a:
                    b = self._name(rng)
                s = (f"{self._filler(rng, 2, 6)} {a} {rng.choice(TRIGGERS)} "
                     f"{b} {self._filler(rng, 2, 6)}.")
            elif kind < 0.6:
                s = f"{self._filler(rng, 3, 8)} {self._name(rng)}."
            else:
                s = self._filler(rng, 6, 16) + rng.choice([".", ".", "!", "?"])
            sentences.append(s)
            size += len(s) + 1
        paras, i = [], 0
        while i < len(sentences):
            take = rng.randint(2, 4)
            paras.append(" ".join(sentences[i:i + take]))
            i += take
        return "\n\n".join(paras)

    def page(self, doc_id: int) -> dict:
        lang = LANGS[doc_id % len(LANGS)]
        url = f"https://bench.example/{SOURCES[doc_id % len(SOURCES)]}/{lang}/p{doc_id}"
        text = self.text(doc_id)
        html = None
        if doc_id % 10 != 7:  # ~10% text-only rows (html NULL)
            body = "".join(f"<p>{_html.escape(p)}</p>" for p in text.split("\n\n"))
            html = (f"<html><head><title>p{doc_id}</title></head><body>"
                    f"{body}</body></html>").encode("utf-8")
        ts = (_dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)
              + _dt.timedelta(minutes=doc_id))
        return {"url": url, "warc_ts": ts, "html": html, "text": text,
                "lang": lang}

    def pages(self, doc_ids) -> list[dict]:
        return [self.page(i) for i in doc_ids]

    def queries(self, n: int) -> list[str]:
        """n query texts of one shape (entity, two filler words, entity),
        so every miss does comparable work; every `query_repeat_every`-th
        op repeats an earlier query, all others are distinct."""
        rng = random.Random(f"queries:{self.seed}")
        every = PARAMS["query_repeat_every"]
        out: list[str] = []
        seen: set[str] = set()
        for i in range(n):
            if i % every == every - 1:
                out.append(rng.choice(out))
                continue
            while True:
                q = (f"{self._name(rng)} {self._filler(rng, 2, 2)} "
                     f"{self._name(rng)}")
                if q not in seen:
                    break
            seen.add(q)
            out.append(q)
        return out


def write_pages(pages: list[dict], path: str, n_files: int) -> None:
    """Write pages as `n_files` parquet files (a crawl arrives as many
    files; one file per slot pair keeps every slot fed in S1-S4)."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    os.makedirs(path, exist_ok=True)
    n_files = max(1, min(n_files, len(pages)))
    for f in range(n_files):
        part = pages[f::n_files]
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


def write_docs(pages: list[dict], path: str, n_files: int) -> None:
    """(doc_id bigint, text string) parquet: the input of `bpe_train`."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    os.makedirs(path, exist_ok=True)
    for f in range(n_files):
        idx = list(range(f, len(pages), n_files))
        table = pa.table({
            "doc_id": pa.array(idx, pa.int64()),
            "text": pa.array([pages[i]["text"] for i in idx], pa.string()),
        })
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))
