"""Seeded unicode property tests at the JVM/Python boundary: the Python
tokenizers agree with the JVM's lower + regexp_extract_all, and the
mapInPandas chunker agrees with the sequential one, on text carrying
NBSP, NEL, U+2028/U+2029, a combining mark, Turkish dotted/dotless I,
the Kelvin sign (lowercases to ASCII "k") and a word-final sigma."""

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from kgspark import query, stages, textops

BOUNDARY = "\u00a0\u0085\u2028\u2029\u0301\u0130\u0131\u212a"
ALPHABET = "aeiKkz09I" + BOUNDARY
SEPARATORS = [" ", " ", " ", "\u00a0", "\u0085", "\u2028", "\u2029", "\n", ", "]
WORDS = ["\u039f\u0394\u039f\u03a3", "\u212aelvin", "\u0130stanbul",
         "D\u0131yarbak\u0131r", "cafe\u0301", "v.", "Smith", "Jones"]


def _unicode_text(rng: random.Random, n_words: int) -> str:
    parts = []
    for _ in range(n_words):
        if rng.random() < 0.3:
            word = rng.choice(WORDS)
        else:
            word = "".join(rng.choice(ALPHABET)
                           for _ in range(rng.randint(1, 10)))
        if rng.random() < 0.15:
            word += rng.choice([".", "!", "?", "..."])
        parts.append(word + rng.choice(SEPARATORS))
    return "".join(parts)


def _texts(seed: int, n: int) -> list[str]:
    rng = random.Random(seed)
    return [_unicode_text(rng, rng.randint(0, 60)) for _ in range(n)] + [
        "", "\u0130I\u0131i \u212aK", "\u03a3\u039f\u03a3 \u03c3\u03c2",
    ]


def test_python_tokenizers_match_jvm(spark):
    texts = _texts(11, 80)
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    jvm = {
        r["id"]: r["tokens"]
        for r in df.select(
            "id",
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0
            ).alias("tokens"),
        ).collect()
    }
    index = Counter()
    for r in query.build_inverted_index(
            df.withColumnRenamed("id", "chunk_id")).collect():
        index[(r["chunk_id"], r["term"])] = r["tf"]
    assert any("k" in toks for toks in jvm.values())  # Kelvin sign folds
    for i, text in enumerate(texts):
        embed_tokens = textops._TOKEN_RE.findall(text.lower())
        assert embed_tokens == jvm[i], repr(text)
        assert query.query_terms(text) == sorted(set(jvm[i])), repr(text)
        assert {t: n for (c, t), n in index.items() if c == i} == Counter(
            embed_tokens), repr(text)


# one sentence longer than every chunk_size below: the chunker never
# splits a sentence ("v." followed by a space would end one)
LONG_SENTENCE = " ".join(["\u0130stanbul \u212aelvin cafe\u0301"] * 40) + "."


@pytest.mark.parametrize("chunk_size,chunk_overlap", [(500, 100), (90, 25), (60, 0)])
def test_map_in_pandas_chunker_matches_sequential(spark, chunk_size,
                                                  chunk_overlap):
    texts = _texts(23 + chunk_size, 40) + [
        LONG_SENTENCE,
        "Smith v. Jones. " + LONG_SENTENCE + " Tail.\u2028Next v. Last!",
    ]
    docs = spark.createDataFrame(
        [(f"u{i}", t) for i, t in enumerate(texts)], "url string, text string"
    ).repartition(3)
    got = sorted(
        (r["url"], r["chunk_index"], r["start_char"], r["end_char"], r["text"])
        for r in stages.chunk(docs, chunk_size, chunk_overlap).collect()
    )
    exp = sorted(
        (f"u{i}", c["chunk_index"], c["start_char"], c["end_char"], c["text"])
        for i, t in enumerate(texts)
        for c in textops.chunk_text(t, chunk_size, chunk_overlap)
    )
    assert any(e - s > chunk_size for _, _, s, e, _ in exp)
    assert got == exp
