"""BPE tokenizer — learn merge rules over the corpus word-frequency
table, then count each document's tokens under them.

The reference repo ships no tokenizer stage (its chunks go straight to
an external LLM, /root/reference/src/builders/graphrag.py); a
training-data engine needs one: the merge table a BPE learner emits is
the vocabulary artifact every downstream token-count / packing /
contamination op keys on.

Design (classic Sennrich BPE):

* Training state is the DISTINCT-WORD frequency table, not the corpus:
  `word_freq_table` is the one corpus-sized pass (JVM `norm_text`,
  split on spaces, map-side-combinable count). Its rows are collected
  to the driver and the merges are learned there in memory, so
  training runs a constant number of Spark jobs whatever `n_merges`
  is.
* Driver memory is O(distinct words). A caller bounds it by sampling
  the `documents` frame it passes in; no cap is applied here.
* The in-memory learner keeps incremental pair counts: a pair -> count
  table plus a pair -> word-index map, and each merge rewrites only
  the words that contain the chosen pair. Symbols are code points
  (`list(word)`); pairs are counted at every adjacent position
  ("aaaa" gives (a, a) x3); a merge is greedy left to right and
  non-overlapping. The chosen pair is the most frequent one, ties
  broken by the smallest "left right" string — the order Spark's
  `orderBy` gives the joined pair — so the merge list does not depend
  on partitioning or on the order `collect` returns rows in.
* Encoding is one Arrow-batched mapInPandas pass against a broadcast
  (left, right) -> rank dict, with a per-batch word cache.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

from pyspark.sql import DataFrame, functions as F

from kgspark.dataops import norm_text

# Java's \s (inside norm_text) is ASCII-only: NBSP, NEL and U+2028 are
# word characters to the JVM, so the Python side splits on this class
# and never on Python's unicode \s
_ASCII_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def word_freq_table(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) corpus word-frequency table — the only corpus-sized
    pass BPE training makes."""
    return (
        documents.select(
            F.explode(F.split(norm_text(F.col(text_col)), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def _merge(syms: list[str], left: str, right: str) -> list[str]:
    """Replace every left-to-right non-overlapping (left, right)."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_train(
    documents: DataFrame,
    n_merges: int = 10,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Learn `n_merges` BPE merge rules from the corpus. Returns the
    merge table (rank, left, right, merged, pair_count) in learned
    order — deterministic under the (count desc, "left right" asc)
    tie-break. Stops early when no pair reaches `min_count`.
    """
    rows = word_freq_table(documents, text_col).collect()
    words = [list(r["word"]) for r in rows]
    freq = [r["n"] for r in rows]
    counts: Counter = Counter()
    where: defaultdict = defaultdict(set)  # pair -> indexes of words
    for i, syms in enumerate(words):
        for pair in zip(syms, syms[1:]):
            counts[pair] += freq[i]
            where[pair].add(i)
    merges = []
    while len(merges) < n_merges and counts:
        top = max(counts.values())
        if top < min_count:
            break
        left, right = min(
            (p for p, c in counts.items() if c == top),
            key=lambda p: f"{p[0]} {p[1]}",
        )
        merges.append((len(merges), left, right, left + right, top))
        # `where` may list words a previous merge rewrote; _merge leaves
        # those unchanged and the count updates below cancel out
        for i in where.pop((left, right)):
            old, words[i] = words[i], _merge(words[i], left, right)
            for pair in zip(old, old[1:]):
                counts[pair] -= freq[i]
            for pair in zip(words[i], words[i][1:]):
                counts[pair] += freq[i]
                where[pair].add(i)
            for pair in zip(old, old[1:]):
                if counts[pair] == 0:
                    del counts[pair]
    return documents.sparkSession.createDataFrame(
        merges,
        "rank int, left string, right string, merged string,"
        " pair_count bigint",
    )


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Sequential greedy BPE encode of one word (the encoder's per-word
    kernel — also the pytest reference): repeatedly merge every
    left-to-right non-overlapping occurrence of the lowest-rank
    adjacent pair present."""
    syms = list(word)
    while len(syms) > 1:
        pair = min(
            zip(syms, syms[1:]), key=lambda p: ranks.get(p, math.inf)
        )
        if pair not in ranks:
            break
        syms = _merge(syms, *pair)
    return syms


def bpe_encode(
    documents: DataFrame,
    merge_rules: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned merge list to the corpus: per-doc BPE token
    count (the "tokens under MY tokenizer" accounting every data-mix
    budget needs — the one step a training pipeline runs over 100% of
    bytes). One mapInPandas pass, no shuffle: classic greedy BPE per
    word inside each Arrow batch against a broadcast (left,right)->rank
    dict, with a per-batch word cache (corpus word frequency is
    zipfian, so the cache absorbs almost every lookup).

    Normalization matches `norm_text`: lowercase, collapse ASCII
    whitespace, strip spaces only (F.trim), so unicode whitespace stays
    inside words exactly as it does in `word_freq_table`."""
    ranks = {
        (left, right): i for i, (left, right) in enumerate(merge_rules)
    }
    bc = documents.sparkSession.sparkContext.broadcast(ranks)

    def encode_batches(batches):
        import pandas as pd  # noqa: PLC0415

        rk = bc.value
        cache: dict[str, int] = {}

        def word_tokens(w: str) -> int:
            n = cache.get(w)
            if n is None:
                n = len(encode_word(w, rk))
                cache[w] = n
            return n

        for pdf in batches:
            counts = []
            for t in pdf[text_col]:
                # strip(' ') — not bare strip(): F.trim removes only
                # spaces, and Python's default strip() would eat the
                # unicode whitespace (NBSP, NEL, U+2028) that Java's
                # ASCII-only \s deliberately leaves in place
                norm = _ASCII_WS.sub(
                    " ", ("" if t is None else t).lower()
                ).strip(" ")
                counts.append(
                    sum(word_tokens(w) for w in norm.split(" ") if w)
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bpe_tokens": pd.Series(counts, dtype="int64"),
                }
            )

    return documents.select("doc_id", text_col).mapInPandas(
        encode_batches, "doc_id bigint, n_bpe_tokens bigint"
    )
