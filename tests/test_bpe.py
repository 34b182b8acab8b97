"""BPE training parity: the learner must emit the same merge list, in
the same order, as a sequential reference BPE over the same
word-frequency table (Sennrich pair-count + greedy left-to-right merge,
tie-break max count then the smallest "left right" string). The
encoder must agree with the sequential `encode_word` per word."""

import random
import re
from collections import Counter

from pyspark.sql import functions as F

from kgspark.bpe import bpe_encode, bpe_train, encode_word, word_freq_table

DOCS_DDL = "doc_id long, text string, lang string"


def _words(texts: list[str]) -> list[tuple[str, int]]:
    """(word, n) rows of ASCII texts, as word_freq_table counts them."""
    return list(Counter(w for t in texts for w in t.lower().split()).items())


def _ref_bpe(freqs: list[tuple[str, int]], n_merges: int, min_count: int = 2):
    """Sequential reference implementation over a (word, n) table.
    Ties go to the smallest "left right" string, the key Spark sorts
    the joined pair by ("a\\x01 b" before "a z", unlike tuple order)."""
    vocab = Counter()
    for w, n in freqs:
        vocab[tuple(w)] += n
    merges = []
    for rank in range(n_merges):
        pairs = Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        best = min(pairs.items(),
                   key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))
        (left, right), c = best
        if c < min_count:
            break
        merges.append((rank, left, right, left + right, c))
        new_vocab = Counter()
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] += n
        vocab = new_vocab
    return merges


def _merge_rows(merge_table):
    return [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in merge_table.orderBy("rank").collect()
    ]


def _seq_counts(texts: list[str], merges) -> dict[int, int]:
    """Per-doc token counts from encode_word over the words of each
    lowercased text split on ASCII whitespace only, like Java \\s."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    return {
        i: sum(len(encode_word(w, ranks))
               for w in re.split(r"[ \t\n\x0b\f\r]+", t.lower()) if w)
        for i, t in enumerate(texts)
    }


def _encode_counts(docs, merges) -> dict[int, int]:
    return {r["doc_id"]: r["n_bpe_tokens"]
            for r in bpe_encode(docs, merges).collect()}


def test_bpe_matches_sequential_reference(spark):
    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "wide wider widest wide lower",
        "low new wide lowest",
    ]
    df = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)], DOCS_DDL
    )
    got = _merge_rows(bpe_train(df, n_merges=8))
    assert got == _ref_bpe(_words(texts), 8)
    assert len(got) >= 4  # the corpus supports several real merges


def test_bpe_overlapping_pair_greedy_left_to_right(spark):
    # "aaaa" x3: pair (a,a) counts 3 per word = 9; merge gives "aa aa"
    # (greedy non-overlapping), next merge (aa,aa) -> "aaaa"
    df = spark.createDataFrame([(0, "aaaa aaaa aaaa", "en")], DOCS_DDL)
    got = _merge_rows(bpe_train(df, n_merges=2))
    assert got == _ref_bpe(_words(["aaaa aaaa aaaa"]), 2)
    assert got[0] == (0, "a", "a", "aa", 9)
    assert got[1] == (1, "aa", "aa", "aaaa", 3)


def test_bpe_min_count_stops_early(spark):
    df = spark.createDataFrame([(0, "ab cd ef", "en")], DOCS_DDL)
    assert bpe_train(df, n_merges=5, min_count=2).count() == 0


def test_bpe_encode_counts(spark):
    df = spark.createDataFrame(
        [(0, "low lower", "en"), (1, "", "en")], DOCS_DDL
    )
    merges = [("l", "o"), ("lo", "w")]
    # "low" -> [low] (1); "lower" -> [low, e, r] (3); empty doc -> 0
    assert _encode_counts(df, merges) == {0: 4, 1: 0}
    # a production-sized rule list runs through the same encoder
    many = merges + [("q%d" % i, "z") for i in range(500)]
    assert _encode_counts(df, many) == {0: 4, 1: 0}


def test_bpe_regex_safe_symbols(spark):
    # regex metacharacters are ordinary symbols
    df = spark.createDataFrame(
        [(0, "a+b a+b a+b x.y x.y", "en")], DOCS_DDL
    )
    got = _merge_rows(bpe_train(df, n_merges=3))
    assert got == _ref_bpe(_words(["a+b a+b a+b x.y x.y"]), 3)


def test_bpe_astral_text_matches_reference(spark):
    """Seeded property test: symbols are code points. Texts mix astral
    characters (U+1F600; U+10400, which lowercases to U+10428), \\x01,
    NBSP, NEL, U+2028, a combining mark, a word-final capital sigma and
    runs of a/b. bpe_train equals the sequential reference over the
    collected word table, pair_count included, and bpe_encode equals
    encode_word per doc."""
    alphabet = "ab" * 3 + "\U0001f600\U00010400\x01\u00a0\u0085\u2028\u0301"
    rng = random.Random(6)
    texts = [
        " ".join(
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 10)))
            + ("\u03a3" if rng.random() < 0.2 else "")
            for _ in range(rng.randint(1, 15))
        )
        for _ in range(80)
    ] + [
        "\U0001f600\U0001f600 \U0001f600\U0001f600 \U0001f600\U0001f600 ab ab",
        "x\U00010400y x\U00010400y",
        "aaaa aaaaa \u039f\u0394\u039f\u03a3",
    ]
    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)], DOCS_DDL
    )
    freqs = [(r["word"], r["n"]) for r in word_freq_table(docs).collect()]
    got = _merge_rows(bpe_train(docs, n_merges=40))
    assert len(got) == 40
    assert got == _ref_bpe(freqs, 40)
    assert any("\U0001f600" in m for _, _, _, m, _ in got)
    merges = [(left, right) for _, left, right, _, _ in got]
    assert _encode_counts(docs, merges) == _seq_counts(texts, merges)

    # an astral pair is one rule over two code points, never a pair of
    # lone surrogates
    small = spark.createDataFrame(
        [(0, texts[-3], "en"), (1, texts[-2], "en")], DOCS_DDL
    )
    assert _merge_rows(bpe_train(small, n_merges=1)) == [
        (0, "\U0001f600", "\U0001f600", "\U0001f600\U0001f600", 3)
    ]
    assert _encode_counts(small, [("\U0001f600", "\U0001f600")]) == {
        0: 7, 1: 6,
    }


def test_bpe_train_job_count_independent_of_merges(spark):
    """Training collects the word table once and merges in driver
    memory: 1 merge and 200 merges run the same number of Spark jobs."""
    sc = spark.sparkContext
    rng = random.Random(7)
    docs = spark.createDataFrame(
        [(i, " ".join("".join(rng.choice("abcdefgh")
                              for _ in range(rng.randint(2, 9)))
                      for _ in range(30)), "en")
         for i in range(40)],
        DOCS_DDL,
    )

    def train(n_merges):
        group = f"test-bpe-train-{n_merges}"
        sc.setJobGroup(group, "bpe_train job count")
        try:
            rows = bpe_train(docs, n_merges=n_merges).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job-start events reach the status tracker via the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), len(rows)

    jobs_1, n_1 = train(1)
    jobs_200, n_200 = train(200)
    assert (n_1, n_200) == (1, 200)
    assert jobs_1 == jobs_200 >= 1


# ---------------------------------------------------------------------------
# round 5: encode at scale (mapInPandas path)
# ---------------------------------------------------------------------------


def test_bpe_encode_vectorized_matches_sequential(spark):
    """The Arrow encoder equals the sequential encode_word per doc, on
    a trained merge list over real corpus text."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=12).orderBy("rank").collect()
    ]
    assert merges
    rows = docs.select("doc_id", "text").collect()
    seq = _seq_counts([r["text"] or "" for r in rows], merges)
    got = _encode_counts(docs, merges)
    assert got == {r["doc_id"]: seq[i] for i, r in enumerate(rows)}
    assert len(got) == docs.count()


def test_bpe_encode_vectorized_matches_sequential_randomized(spark):
    """Seeded property test: Arrow encoder == sequential encode_word,
    on adversarial short alphabets where merge chains stack deep (runs
    of repeated symbols: the left-to-right non-overlapping edge case)
    mixed with the JVM/Python boundary characters — NBSP, NEL,
    U+2028/U+2029 (word bytes to Java's ASCII-only \\s, separators to
    Python's), a combining mark, and Turkish dotted/dotless I (U+0130
    lowercases to two chars)."""
    alphabet = "ab" * 4 + "\u00a0\u0085\u2028\u2029\u0301\u0130\u0131"
    rng = random.Random(5)
    texts = [
        " ".join(
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
            for _ in range(rng.randint(1, 20))
        )
        for _ in range(60)
    ] + ["aaaa aaaaa aaaaaa", "abab ababab", "", "\u0130\u0130 a\u0301a\u0301"]
    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)], DOCS_DDL
    )
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=12).orderBy("rank").collect()
    ]
    assert merges
    assert _encode_counts(docs, merges) == _seq_counts(texts, merges)


def test_bpe_encode_word_sequential_reference():
    """encode_word against hand-computed classic BPE encodes."""
    ranks = {("l", "o"): 0, ("lo", "w"): 1, ("e", "r"): 2}
    assert encode_word("low", ranks) == ["low"]
    assert encode_word("lower", ranks) == ["low", "er"]
    assert encode_word("xyz", ranks) == ["x", "y", "z"]
    # ranks need not be dense (a merge list with a repeated rule)
    assert encode_word("xycd", {("a", "b"): 1, ("c", "d"): 2}) == [
        "x", "y", "cd",
    ]
    # run of a repeated pair merges left-to-right non-overlapping
    assert encode_word("aaaa", {("a", "a"): 0}) == ["aa", "aa"]
    assert encode_word("aaaaa", {("a", "a"): 0, ("aa", "aa"): 1}) == [
        "aaaa", "a",
    ]


def test_bpe_encode_counts_reconcile_with_training(spark):
    """Token accounting invariants of the encoder: every word
    is >= 1 token, <= its char length, and applying ZERO merges gives
    exactly the per-doc character count of the normalized words."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=6).orderBy("rank").collect()
    ]
    enc = _encode_counts(docs, merges)
    none = _encode_counts(docs, [])
    from kgspark.dataops import norm_text

    words = {
        r["doc_id"]: (r["n_words"], r["n_chars"])
        for r in docs.select(
            "doc_id",
            F.size(F.filter(F.split(norm_text(F.col("text")), " "),
                            lambda w: w != "")).alias("n_words"),
            F.length(F.regexp_replace(norm_text(F.col("text")), " ", ""))
            .alias("n_chars"),
        ).collect()
    }
    for d, (n_words, n_chars) in words.items():
        assert none[d] == n_chars
        assert n_words <= enc[d] <= n_chars


def test_bpe_encode_unicode_whitespace_parity(spark):
    """Java \\s is ASCII-only and F.trim strips only spaces, so NBSP /
    NEL / U+2028 are WORD BYTES, not separators — the encoder must keep
    them (a bare Python .strip() would silently eat them at the
    edges)."""
    rows = [
        (0, " low lower ", "en"),
        (1, "", "en"),
        (2, " low \t lower ", "en"),
    ]
    docs = spark.createDataFrame(rows, DOCS_DDL)
    merges = [("l", "o"), ("lo", "w")]
    got = _encode_counts(docs, merges)
    assert got == _seq_counts([t for _, t, _ in rows], merges)
    # the lone NEL is a 1-symbol word, never zero
    assert got[1] == 1
