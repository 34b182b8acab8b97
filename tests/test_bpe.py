"""BPE training parity: the distributed learner must emit the same
merge list, in the same order, as a sequential reference BPE over the
same corpus (Sennrich pair-count + greedy left-to-right merge,
tie-break max count then lexicographically smallest pair)."""

from collections import Counter

from pyspark.sql import functions as F

from kgspark.bpe import bpe_encode, bpe_train

DOCS_DDL = "doc_id long, text string, lang string"


def _ref_bpe(texts: list[str], n_merges: int, min_count: int = 2):
    """Sequential reference implementation over a word-freq dict."""
    vocab = Counter()
    for t in texts:
        for w in t.lower().split():
            vocab[tuple(w)] += 1
    merges = []
    for rank in range(n_merges):
        pairs = Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
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
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_train(df, n_merges=8).orderBy("rank").collect()
    ]
    assert got == _ref_bpe(texts, 8)
    assert len(got) >= 4  # the corpus supports several real merges


def test_bpe_overlapping_pair_greedy_left_to_right(spark):
    # "aaaa" x3: pair (a,a) counts 3 per word = 9; merge gives "aa aa"
    # (greedy non-overlapping), next merge (aa,aa) -> "aaaa"
    df = spark.createDataFrame([(0, "aaaa aaaa aaaa", "en")], DOCS_DDL)
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_train(df, n_merges=2).orderBy("rank").collect()
    ]
    assert got == _ref_bpe(["aaaa aaaa aaaa"], 2)
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
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_encode(df, merges).collect()
    }
    # "low" -> [low] (1); "lower" -> [low, e, r] (3); empty doc -> 0
    assert got == {0: 4, 1: 0}


def test_bpe_regex_safe_symbols(spark):
    # punctuation tokens must survive the \Q..\E quoting
    df = spark.createDataFrame(
        [(0, "a+b a+b a+b x.y x.y", "en")], DOCS_DDL
    )
    got = bpe_train(df, n_merges=3).orderBy("rank").collect()
    ref = _ref_bpe(["a+b a+b a+b x.y x.y"], 3)
    assert [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in got
    ] == ref


# ---------------------------------------------------------------------------
# round 5: encode at scale (mapInPandas path)
# ---------------------------------------------------------------------------


def test_bpe_encode_vectorized_matches_literal(spark):
    """The broadcast-dict mapInPandas encoder and the regexp chain are
    two physical strategies for the SAME operator: identical per-doc
    token counts on a trained merge list over real corpus text."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=12).orderBy("rank").collect()
    ]
    assert merges
    lit = {r["doc_id"]: r["n_bpe_tokens"]
           for r in bpe_encode(docs, merges, vectorized=False).collect()}
    vec = {r["doc_id"]: r["n_bpe_tokens"]
           for r in bpe_encode(docs, merges, vectorized=True).collect()}
    assert lit == vec and len(lit) == docs.count()


def test_bpe_encode_vectorized_matches_literal_randomized(spark):
    """Seeded property test: JVM regexp chain == vectorized encoder ==
    sequential encode_word, on adversarial short alphabets where merge
    chains stack deep (runs of repeated symbols: the left-to-right
    non-overlapping edge case) mixed with the JVM/Python boundary
    characters — NBSP, NEL, U+2028/U+2029 (word bytes to Java's
    ASCII-only \\s, separators to Python's), a combining mark, and
    Turkish dotted/dotless I (U+0130 lowercases to two chars)."""
    import random
    import re

    from kgspark.bpe import encode_word

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
    lit = {r["doc_id"]: r["n_bpe_tokens"]
           for r in bpe_encode(docs, merges, vectorized=False).collect()}
    vec = {r["doc_id"]: r["n_bpe_tokens"]
           for r in bpe_encode(docs, merges, vectorized=True).collect()}
    # the sequential side splits on ASCII whitespace only, like Java \\s
    ranks = {pair: i for i, pair in enumerate(merges)}
    seq = {
        i: sum(len(encode_word(w, ranks))
               for w in re.split(r"[ \t\n\x0b\f\r]+", t.lower()) if w)
        for i, t in enumerate(texts)
    }
    assert lit == vec == seq


def test_bpe_encode_word_sequential_reference():
    """encode_word against hand-computed classic BPE encodes."""
    from kgspark.bpe import encode_word

    ranks = {("l", "o"): 0, ("lo", "w"): 1, ("e", "r"): 2}
    assert encode_word("low", ranks) == ["low"]
    assert encode_word("lower", ranks) == ["low", "er"]
    assert encode_word("xyz", ranks) == ["x", "y", "z"]
    # run of a repeated pair merges left-to-right non-overlapping
    assert encode_word("aaaa", {("a", "a"): 0}) == ["aa", "aa"]
    assert encode_word("aaaaa", {("a", "a"): 0, ("aa", "aa"): 1}) == [
        "aaaa", "a",
    ]


def test_bpe_encode_auto_switches_to_map_in_pandas(spark):
    """Above BPE_LITERAL_MAX_RULES the plan must be the Arrow-batched
    encoder, not a >128-deep regexp_replace expression tree; below it
    the plan stays pure JVM."""
    from kgspark.bpe import BPE_LITERAL_MAX_RULES

    docs = spark.createDataFrame([(0, "low lower", "en")], DOCS_DDL)
    many = [("l", "o"), ("lo", "w")] + [
        ("q%d" % i, "z") for i in range(BPE_LITERAL_MAX_RULES)
    ]
    big = bpe_encode(docs, many)
    small = bpe_encode(docs, [("l", "o")])
    bplan = big._jdf.queryExecution().executedPlan().toString()
    splan = small._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in bplan
    assert "MapInPandas" not in splan and "ArrowEvalPython" not in splan
    # and the big-vocab plan actually runs
    assert big.first()["n_bpe_tokens"] == 4


def test_bpe_encode_counts_reconcile_with_training(spark):
    """Token accounting invariants on the vectorized path: every word
    is >= 1 token, <= its char length, and applying ZERO merges gives
    exactly the per-doc character count of the normalized words."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=6).orderBy("rank").collect()
    ]
    enc = {r["doc_id"]: r["n_bpe_tokens"]
           for r in bpe_encode(docs, merges, vectorized=True).collect()}
    none = {r["doc_id"]: r["n_bpe_tokens"]
            for r in bpe_encode(docs, [], vectorized=True).collect()}
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
    NEL / U+2028 are WORD BYTES, not separators — and must be treated
    identically by both physical paths (a bare Python .strip() in the
    vectorized twin would silently eat them at the edges)."""
    docs = spark.createDataFrame(
        [
            (0, " low lower ", "en"),
            (1, "", "en"),
            (2, " low \t lower ", "en"),
        ],
        DOCS_DDL,
    )
    merges = [("l", "o"), ("lo", "w")]
    lit = {r["doc_id"]: r["n_bpe_tokens"]
           for r in bpe_encode(docs, merges, vectorized=False).collect()}
    vec = {r["doc_id"]: r["n_bpe_tokens"]
           for r in bpe_encode(docs, merges, vectorized=True).collect()}
    assert lit == vec
    # the lone NEL is a 1-symbol word on both paths, never zero
    assert lit[1] == 1
