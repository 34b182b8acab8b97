"""Training-data ops: exact/near dedup, ANN, text analysis — checked
against hand-computed expectations and (for ANN) brute force."""

import math

import pytest
from pyspark.sql import functions as F

from kgspark import dataops

DOCS_DDL = "doc_id long, text string, lang string"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),   # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog", "en"),   # near dup
        (3, "completely different content about spark engines", "en"),
        (4, "el perro que corre por la calle los dias", "es"),
        (5, "", "en"),
    ]
    return spark.createDataFrame(rows, DOCS_DDL)


def test_exact_dedup(spark, docs):
    got = {r["keep_doc_id"]: r["n_copies"] for r in dataops.exact_dedup(docs).collect()}
    assert got[0] == 2          # docs 0 and 1 collapse
    assert 1 not in got
    assert got[2] == 1 and got[3] == 1


def test_fingerprint_normalization(spark):
    d = spark.createDataFrame(
        [(0, "A  B\tC", "en"), (1, "a b c", "en")], DOCS_DDL
    )
    fps = {r["doc_id"]: r["fingerprint"] for r in dataops.fingerprints(d).collect()}
    assert fps[0] == fps[1]


def test_minhash_finds_near_dup(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dataops.minhash_near_dup(
            docs, n_hashes=32, bands=16, threshold=0.3
        ).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.3 <= pairs[(0, 2)] < 1.0
    assert not any(3 in p or 4 in p for p in pairs)


def test_corpus_filter_rule_order_and_keep(spark):
    """Fixed rule order: duplicate beats too_short beats too_few_words
    beats too_much_punct; a clean long doc keeps."""
    long_ok = "word " * 60                      # 300 chars, 60 words
    punct_heavy = ("abcdefgh!! " * 30).strip()  # >200 chars, >30 words, punct>10%
    rows = [
        (0, long_ok, "en"),
        (1, long_ok, "en"),            # exact dup of 0 -> duplicate
        (2, "tiny", "en"),             # -> too_short
        (3, "w " * 120, "en"),         # 240 chars but... 120 words -> ok? chars=240 words=120
        (4, punct_heavy, "en"),        # -> too_much_punct
        (5, ("word " * 45)[:220], "en"),  # 220 chars, ~44 words -> ok
    ]
    d = spark.createDataFrame(rows, DOCS_DDL)
    got = {r["doc_id"]: (r["keep"], r["reason"])
           for r in dataops.corpus_filter(d).collect()}
    assert got[0] == (True, "ok")
    assert got[1] == (False, "duplicate")
    assert got[2] == (False, "too_short")
    assert got[3] == (True, "ok")
    assert got[4] == (False, "too_much_punct")
    assert got[5] == (True, "ok")


def test_minhash_md5_mode_same_verified_pairs(spark, docs):
    """The engine-portable md5 hash mode is the same algorithm with a
    different hash family — on this fixture both modes must verify the
    same near-dup pairs at the same exact Jaccard (banding may differ
    in CANDIDATES, but verified pairs at a recall-safe band count
    coincide here)."""
    kw = dict(n_hashes=32, bands=16, threshold=0.3)
    xx = {(r["doc_a"], r["doc_b"]): r["jaccard"]
          for r in dataops.minhash_near_dup(docs, **kw).collect()}
    md = {(r["doc_a"], r["doc_b"]): r["jaccard"]
          for r in dataops.minhash_near_dup(docs, hash_mode="md5", **kw).collect()}
    assert xx == md


def test_ngram_jaccard_exact_value(spark, docs):
    sh = dataops.word_shingles(docs, n=3)
    pairs = spark.createDataFrame([(0, 2)], "doc_a long, doc_b long")
    row = dataops.ngram_jaccard(pairs, sh).collect()[0]
    # 9-word docs -> 7 shingles each; 4 shared (window of 3 around the
    # one differing word breaks 3 shingles) -> J = 4 / (7+7-4) = 0.4
    assert row["jaccard"] == pytest.approx(0.4)


def test_simhash_near_dup(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dataops.simhash_near_dup(docs, max_hamming=3).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 0
    assert not any((a == 3 or b == 3) for a, b in pairs)


def test_simhash_deterministic(spark, docs):
    a = {r["doc_id"]: r["simhash"] for r in dataops.simhash(docs).collect()}
    b = {r["doc_id"]: r["simhash"] for r in dataops.simhash(docs).collect()}
    assert a == b


def test_simhash_jvm_mode_agrees_with_md5_mode(spark, docs):
    """The fully-JVM xxhash64 kernel and the oracle-checked md5 kernel
    are different hash families, so raw signatures differ — but the
    STRUCTURAL properties must coincide: exact duplicates collide at
    hamming 0 in both modes, unrelated docs stay unpaired, and the
    zero-token signature convention (all ones = -1) is shared."""
    for mode in ("xxhash64", "md5"):
        sigs = {r["doc_id"]: r["simhash"]
                for r in dataops.simhash(docs, hash_mode=mode).collect()}
        assert sigs[0] == sigs[1], mode       # exact dup -> same signature
        assert sigs[5] == -1, mode            # empty doc -> all-ones
        pairs = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in dataops.simhash_near_dup(
                docs, max_hamming=3, hash_mode=mode
            ).collect()
        }
        assert pairs[(0, 1)] == 0, mode
        assert not any(3 in p for p in pairs), mode
    # and the production plan is Python-free: no Arrow/Python eval nodes
    plan = dataops.simhash(docs, hash_mode="xxhash64")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "EvalPython" not in plan


def test_simhash_md5_matches_oracle_on_unicode_whitespace(spark):
    """The md5 signatures equal the DuckDB oracle's `usig` (read as
    signed) on text separated by characters the tokenizers disagree
    on: Python's str.split() splits on NBSP, U+0085, U+2028 and
    U+001C, Java's \\s on U+000B, RE2's \\s on none of them. The md5
    plan is JVM-only (no Python eval node)."""
    import random

    import duckdb

    import __spark_entry__ as em

    rng = random.Random(11)
    words = ["alpha", "Beta", "gamma", "delta", "eps", "zeta", "eta"]
    seps = [" ", "\t", "\u00a0", "\u2028", "\u001c", "\u0085", "\u000b",
            "  ", "\t\n"]
    rows = [
        (i, "".join(
            rng.choice(words) + rng.choice(seps)
            for _ in range(rng.randint(1, 12))
        ))
        for i in range(40)
    ] + [(40, ""), (41, " \t ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = dataops.simhash(df, hash_mode="md5")
    got = {r["doc_id"]: r["simhash"] for r in sig.collect()}

    sql = em._simhash_sql(3)
    sql = sql[:sql.index("banded AS (")].rstrip().rstrip(",")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {
        d: u - (1 << 64) if u >= (1 << 63) else u
        for d, u in con.execute(
            sql + " SELECT doc_id, usig FROM sigs"
        ).fetchall()
    }
    assert got == want
    assert got[40] == got[41] == -1
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_ivf_ann_matches_brute_force_topk(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[5][1]
    brute = [r["vec_id"] for r in dataops.brute_force_ann(emb, q, 5).collect()]
    cents = [rows[i][1] for i in range(0, 200, 25)]
    ivf = [
        r["vec_id"]
        for r in dataops.ivf_ann(emb, cents, q, 5, n_probe=4).collect()
    ]
    assert brute[0] == 5  # self is nearest
    # IVF with half the cells probed keeps decent recall on the top-5
    assert len(set(brute) & set(ivf)) >= 3


def test_ivf_index_materialized_prunes_partitions(spark, tmp_path):
    """ivf_build persists the assignment partitioned by cell; a probe
    query must (a) return exactly what the inline ivf_ann returns,
    (b) carry the cell filter as a PARTITION filter in the scan (the
    scale contract: n_probe dirs read, not the whole table), and
    (c) resume instead of rebuilding for the same input key."""
    import random

    from kgspark.io import TableIO

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [rows[i][1] for i in range(0, 200, 25)]
    q = rows[5][1]

    io = TableIO(str(tmp_path / "wh"))
    snap = dataops.ivf_build(io, emb, cents, input_key="test:v1")
    assert dataops.ivf_build(io, emb, cents, input_key="test:v1") == snap

    got = dataops.ivf_query(io, spark, q, k=5, n_probe=4)
    inline = dataops.ivf_ann(emb, cents, q, 5, n_probe=4).collect()
    assert [(r["vec_id"], round(r["score"], 9)) for r in got.collect()] == [
        (r["vec_id"], round(r["score"], 9)) for r in inline
    ]

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]


def _unit_np(mat):
    import numpy as np

    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    return mat / np.where(norms == 0.0, 1.0, norms)


def _np_rows(df):
    """(ids, float64 matrix) of a (vec_id, embedding) frame, by vec_id."""
    import numpy as np

    rows = df.select("vec_id", "embedding").orderBy("vec_id").collect()
    return ([r["vec_id"] for r in rows],
            np.asarray([r["embedding"] for r in rows], dtype=np.float64))


def test_ivf_assign_matches_numpy_and_brute_force(spark):
    """ivf_assign's Arrow matmul equals a sequential driver-side numpy
    argmax-cosine per vector, and ivf_ann's top-k equals the exact
    brute-force top-k restricted to the probed cells (dim 64, nlist 8)."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    ids, x = _np_rows(emb)
    sims = _unit_np(x) @ _unit_np(np.asarray(cents)).T
    want = dict(zip(ids, np.argmax(sims, axis=1).tolist()))
    got = {r["vec_id"]: r["cell"]
           for r in dataops.ivf_assign(emb, cents).collect()}
    assert got == want and len(got) > 0

    q = cents[0]
    qsims = (_unit_np(np.asarray(cents)) @ _unit_np(np.asarray([q])).T)[:, 0]
    probe = sorted(range(len(cents)), key=lambda c: -qsims[c])[:3]
    members = [i for i, c in want.items() if c in probe]
    truth = [(r["vec_id"], r["score"]) for r in dataops.brute_force_ann(
        emb.filter(F.col("vec_id").isin(members)), q, 10).collect()]
    topk = [(r["vec_id"], r["score"]) for r in
            dataops.ivf_ann(emb, cents, q, 10, 3).collect()]
    assert topk == truth and len(topk) == 10

    # plan check: assignment runs Arrow-batched Python
    plan = dataops.ivf_assign(emb, cents)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "ArrowEvalPython" in plan


def test_ivf_assign_identical_centroids_pick_lower_cell(spark):
    """First-max-wins tie-break: with two identical centroids every
    vector lands in the lower cell id; a zero-norm vector scores 0
    against every centroid, so it ties too and also takes cell 0."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, 0.5]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = dataops.ivf_assign(emb, [[0.6, 0.8], [0.6, 0.8]],
                              with_score=True).collect()
    assert {r["vec_id"]: r["cell"] for r in rows} == {0: 0, 1: 0, 2: 0, 3: 0}
    assert {r["vec_id"]: r["best_cos"] for r in rows}[3] == 0.0


def test_ivf_assign_empty_centroids_raises(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="centroids is an empty list"):
        dataops.ivf_assign(emb, [])


def test_embedding_lsh_matches_numpy_reference(spark):
    """The LSH pairs equal a sequential numpy reference: sign bits over
    the same seeded planes, 8 band keys of 2 bits, every pair sharing a
    (band, key) bucket, kept when its exact cosine is >= 0.4."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ids, x = _np_rows(emb)
    bits = (x @ np.asarray(dataops._random_planes(16, 64, 42)).T) >= 0.0
    keys = bits[:, 0::2].astype(np.int64) | (bits[:, 1::2].astype(np.int64) << 1)
    unit = _unit_np(x)
    want = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if (keys[i] == keys[j]).any():
                cos = float(unit[i] @ unit[j])
                if cos >= 0.4:
                    want[(ids[i], ids[j])] = round(cos, 9)
    got = {(r["vec_a"], r["vec_b"]): round(r["cosine"], 9)
           for r in dataops.embedding_near_dup_lsh(
               emb, threshold=0.4).collect()}
    assert got == want and len(got) > 0


def test_vector_math_highdim_green(spark):
    """Production dims (dim 1024, nlist 256 — the regime where literal
    codegen would blow the JVM 64 KB method limit): the full IVF + LSH
    flows run green on the Arrow matmul."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim = 1024
    rows = [
        (i, rng.standard_normal(dim).astype("float32").tolist())
        for i in range(300)
    ]
    rows.append((300, rows[5][1]))  # exact duplicate of vec 5
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [rows[i][1] for i in range(256)]

    plan = dataops.ivf_assign(emb, cents)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "ArrowEvalPython" in plan

    q = rows[5][1]
    got = dataops.ivf_ann(emb, cents, q, k=5, n_probe=8).collect()
    assert len(got) == 5
    # the duplicate pair (5, 300) lands in the same cell; self + dup top
    assert {got[0]["vec_id"], got[1]["vec_id"]} == {5, 300}

    pairs = {
        (r["vec_a"], r["vec_b"])
        for r in dataops.embedding_near_dup_lsh(
            emb, threshold=0.99, n_planes=32, bands=8
        ).collect()
    }
    assert (5, 300) in pairs  # identical vectors share every band


def test_lang_id_predicts_markers(spark, docs):
    got = {r["doc_id"]: r["pred_lang"] for r in dataops.lang_id(docs).collect()}
    assert got[0] == "en"
    assert got[4] == "es"


def test_quality_scores_values(spark):
    d = spark.createDataFrame([(0, "the cat sat.", "en")], DOCS_DDL)
    r = dataops.quality_scores(d).collect()[0]
    assert r["n_chars"] == 12
    assert r["n_words"] == 3
    assert r["punct_ratio"] == pytest.approx(1 / 12, abs=1e-6)
    assert r["stopword_ratio"] == pytest.approx(1 / 3, abs=1e-6)


def test_token_stats_values(spark):
    d = spark.createDataFrame(
        [(0, "abc123 def!", "en"), (1, "", "en")], DOCS_DDL
    )
    got = {r["doc_id"]: r for r in dataops.token_stats(d).collect()}
    assert got[0]["n_ws_tokens"] == 2
    # abc | 123 | def | ! -> 4 BPE-ish pieces
    assert got[0]["n_bpe_pieces"] == 4
    assert got[1]["n_ws_tokens"] == 0


def test_embedding_cosine_neardup(spark):
    # embedding-cosine near-dup: same direction vectors score 1.0
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [2.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = dataops.brute_force_ann(emb, [1.0, 0.0, 0.0], 3).collect()
    scores = {r["vec_id"]: r["score"] for r in got}
    assert scores[0] == pytest.approx(1.0)
    assert scores[1] == pytest.approx(1.0)
    assert scores[2] == pytest.approx(0.0, abs=1e-9)
    assert not math.isnan(scores[2])


def test_embedding_near_dup_exact_and_lsh_recall(spark):
    # 3 clusters of near-identical vectors + noise vectors; exact pairs
    # must find within-cluster pairs only, and LSH blocking must
    # recover (near-)all exact pairs at the same threshold.
    import random

    rng = random.Random(7)
    dim = 16
    rows = []
    vid = 0
    for c in range(3):
        base = [rng.gauss(0, 1) for _ in range(dim)]
        for _ in range(4):
            rows.append((vid, [b + rng.gauss(0, 0.01) for b in base]))
            vid += 1
    for _ in range(10):
        rows.append((vid, [rng.gauss(0, 1) for _ in range(dim)]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {
        (r["vec_a"], r["vec_b"])
        for r in dataops.embedding_near_dup(emb, threshold=0.95).collect()
    }
    # every within-cluster pair (6 per cluster of 4) is a near-dup
    expected = {
        (a, b)
        for c in range(3)
        for a in range(c * 4, c * 4 + 4)
        for b in range(a + 1, c * 4 + 4)
    }
    assert exact == expected

    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in dataops.embedding_near_dup_lsh(
            emb, threshold=0.95, n_planes=16, bands=8
        ).collect()
    }
    assert lsh <= exact  # verification step guarantees precision = 1
    assert len(lsh) >= 0.9 * len(exact)  # high recall on tight clusters


def test_approx_distinct_error_bound(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx"),
        F.countDistinct("user_id").alias("exact"),
    ).collect()
    assert got
    for r in got:
        assert abs(r["approx"] - r["exact"]) <= max(3, 0.05 * r["exact"]), r


def test_stratified_sample_deterministic_rates(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept1 = {r["doc_id"] for r in dataops.stratified_sample(
        docs, {"en": 0.5}, default=0.2).collect()}
    kept2 = {r["doc_id"] for r in dataops.stratified_sample(
        docs, {"en": 0.5}, default=0.2).collect()}
    assert kept1 == kept2 and kept1  # hash-stable membership, not rand()
    # per-stratum rates land near the configured fractions
    n_en = docs.filter("lang = 'en'").count()
    kept_en = dataops.stratified_sample(
        docs, {"en": 0.5}, default=0.2).filter("lang = 'en'").count()
    assert abs(kept_en / max(n_en, 1) - 0.5) < 0.25
    # fraction 0 / 1 edge cases
    assert dataops.stratified_sample(
        docs, {}, default=1.0).count() == docs.count()
    assert dataops.stratified_sample(docs, {}, default=0.0).count() == 0


def test_sessionize_gap_semantics(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 7, "a", 0.0, None),
        (2, t0 + dt.timedelta(seconds=10), 7, "a", 0.0, None),
        (3, t0 + dt.timedelta(seconds=700), 7, "a", 0.0, None),  # >600s gap
        (4, t0, 8, "a", 0.0, None),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {(r["user_id"], r["session_idx"]): r
           for r in dataops.sessionize(events, gap_seconds=600).collect()}
    assert got[(7, 1)]["n_events"] == 2   # first session: t0, t0+10
    assert got[(7, 2)]["n_events"] == 1   # the 700s event opens session 2
    assert got[(8, 1)]["n_events"] == 1
    span = got[(7, 1)]["session_end_us"] - got[(7, 1)]["session_start_us"]
    assert span == 10_000_000


def test_near_dup_clusters_transitive(spark):
    # A~B and B~C near-dups but A,C farther apart: the cluster must
    # still merge all three (transitivity via CC), keep = min doc_id
    base = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
    b = base.replace("lazy", "sleepy")
    c = b.replace("quick", "speedy")
    docs = spark.createDataFrame(
        [(0, base, "en"), (1, b, "en"), (2, c, "en"),
         (3, "completely unrelated text about database engines and storage", "en")],
        "doc_id long, text string, lang string",
    )
    got = {
        r["doc_id"]: r
        for r in dataops.near_dup_clusters(
            docs, threshold=0.5, bands=8
        ).collect()
    }
    assert got[0]["keep_doc_id"] == 0 and not got[0]["is_dup"]
    assert got[1]["keep_doc_id"] == 0 and got[1]["is_dup"]
    assert got[2]["keep_doc_id"] == 0 and got[2]["is_dup"]
    assert got[3]["keep_doc_id"] == 3 and not got[3]["is_dup"]


def test_repetition_stats_values(spark):
    d = spark.createDataFrame(
        [
            (0, "a a a a", "en"),                 # max repetition
            (1, "w x y z", "en"),                 # no repetition
            (2, "go go stop go go stop", "en"),   # repeated bigrams
        ],
        DOCS_DDL,
    )
    got = {r["doc_id"]: r for r in dataops.repetition_stats(d).collect()}
    r0 = got[0]
    assert r0["n_words"] == 4
    assert r0["top_word_frac"] == 1.0
    assert r0["distinct_word_ratio"] == 0.25
    assert r0["dup_bigram_frac"] == pytest.approx(1 - 1 / 3, abs=1e-6)
    r1 = got[1]
    assert r1["top_word_frac"] == 0.25
    assert r1["distinct_word_ratio"] == 1.0
    assert r1["dup_bigram_frac"] == 0.0
    r2 = got[2]
    # bigrams: go go, go stop, stop go, go go, go stop -> 5 total 3 distinct
    assert r2["dup_bigram_frac"] == pytest.approx(1 - 3 / 5, abs=1e-6)


def test_ngram_contamination_flags_overlap(spark):
    eval_text = " ".join(f"tok{i}" for i in range(12))
    rows = [
        (0, eval_text, "en"),                       # eval doc (0 % 97 == 0)
        (1, "prefix " + eval_text + " suffix", "en"),  # contaminated
        (2, " ".join(f"other{i}" for i in range(12)), "en"),  # clean
    ]
    d = spark.createDataFrame(rows, DOCS_DDL)
    got = {r["doc_id"]: r for r in dataops.ngram_contamination(d).collect()}
    assert 0 not in got                      # eval doc excluded from output
    assert got[1]["is_contaminated"] is True
    assert got[1]["n_contaminated"] == 5     # 12-token overlap -> 5 shared 8-grams
    assert got[2]["is_contaminated"] is False
    assert got[2]["n_contaminated"] == 0


def test_ngram_contamination_explicit_eval_set(spark):
    train = spark.createDataFrame(
        [(10, " ".join(f"t{i}" for i in range(9)), "en")], DOCS_DDL
    )
    dirty_eval = spark.createDataFrame(
        [(99, " ".join(f"t{i}" for i in range(8)), "en")], DOCS_DDL
    )
    clean_eval = spark.createDataFrame(
        [(99, "nothing shared here at all in any gram", "en")], DOCS_DDL
    )
    hit = dataops.ngram_contamination(train, eval_docs=dirty_eval).collect()[0]
    assert hit["is_contaminated"] is True
    miss = dataops.ngram_contamination(train, eval_docs=clean_eval).collect()[0]
    assert miss["is_contaminated"] is False


def test_pii_scrub_planted(spark):
    d = spark.createDataFrame(
        [
            (0, "contact me at jane.doe+x@example.org or bob@test.io now", "en"),
            (1, "call +1 (555) 123-4567 from host 192.168.0.1 today", "en"),
            (2, "clean text with no sensitive content at all", "en"),
        ],
        DOCS_DDL,
    )
    got = {r["doc_id"]: r for r in dataops.pii_scrub(d).collect()}
    assert got[0]["n_email"] == 2 and got[0]["n_phone"] == 0
    assert got[1]["n_phone"] == 1 and got[1]["n_ipv4"] == 1
    assert got[2]["n_email"] == got[2]["n_phone"] == got[2]["n_ipv4"] == 0
    # redaction removed every match: re-scanning the scrubbed text
    # finds nothing
    import re

    texts = {r["doc_id"]: r["text"] for r in d.collect()}
    for doc_id in texts:
        red = texts[doc_id]
        for kind, pat in dataops.PII_PATTERNS.items():
            red = re.sub(pat, dataops.PII_REPLACEMENTS[kind], red)
        for kind, pat in dataops.PII_PATTERNS.items():
            assert not re.search(pat, red)


def test_percentile_approx_tracks_exact(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    exact = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.9)").alias("p")
    )
    approx = ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.9, 10000)").alias("p")
    )
    e = {r["event_type"]: r["p"] for r in exact.collect()}
    a = {r["event_type"]: r["p"] for r in approx.collect()}
    for k in e:
        assert abs(a[k] - e[k]) / max(abs(e[k]), 1e-9) < 0.05


def test_winnow_shared_run_guarantee(spark):
    # winnowing guarantee: any shared run of >= k + w - 1 = 6 words
    # yields at least one shared fingerprint
    run = "alpha beta gamma delta epsilon zeta"
    d = spark.createDataFrame(
        [
            (0, "unique prefix one " + run + " tail a", "en"),
            (1, "other start words " + run + " ending b", "en"),
            (2, "totally unrelated content with different words entirely", "en"),
        ],
        DOCS_DDL,
    )
    pairs = dataops.winnow_near_dup(d, min_shared=1, max_df=8).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (0, 1) in got
    assert all(2 not in p for p in got)


def test_winnow_max_df_drops_boilerplate(spark):
    boiler = "all rights reserved copyright notice footer text"
    rows = [(i, f"page {i} body content item{i} " + boiler, "en") for i in range(10)]
    rows.append((100, "genuine duplicate sentence shared by just two docs here", "en"))
    rows.append((101, "genuine duplicate sentence shared by just two docs here", "en"))
    d = spark.createDataFrame(rows, DOCS_DDL)
    pairs = dataops.winnow_near_dup(d, min_shared=1, max_df=4).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (100, 101) in got
    # boilerplate fingerprints occur in 10 docs > max_df -> cut; the
    # numbered pages share nothing else
    assert all(p == (100, 101) for p in got)


def test_winnow_short_doc_emits_nothing(spark):
    d = spark.createDataFrame([(0, "two words", "en"), (1, "", "en")], DOCS_DDL)
    assert dataops.winnow_fingerprints(d).count() == 0


def test_asof_join_semantics(spark):
    from datetime import datetime

    L = spark.createDataFrame(
        [
            (1, 7, datetime(2024, 1, 1, 10, 0, 0)),   # after r2
            (2, 7, datetime(2024, 1, 1, 9, 0, 0)),    # ties r2 exactly
            (3, 7, datetime(2024, 1, 1, 8, 0, 0)),    # only r1 before
            (4, 7, datetime(2024, 1, 1, 6, 0, 0)),    # nothing before
            (5, 8, datetime(2024, 1, 1, 12, 0, 0)),   # other key, no rights
        ],
        "event_id long, user_id long, ts timestamp",
    )
    R = spark.createDataFrame(
        [
            (7, datetime(2024, 1, 1, 7, 0, 0), 100, 1.0),   # r1
            (7, datetime(2024, 1, 1, 9, 0, 0), 200, 2.0),   # r2
        ],
        "user_id long, ts timestamp, rid long, rval double",
    )
    got = {
        r["event_id"]: (r["rid"], r["rval"])
        for r in dataops.asof_join(
            L, R, on="user_id", ts="ts", value_cols=["rid", "rval"]
        ).collect()
    }
    assert got[1] == (200, 2.0)      # latest at-or-before
    assert got[2] == (200, 2.0)      # inclusive tie
    assert got[3] == (100, 1.0)
    assert got[4] == (None, None)    # no right row at-or-before
    assert got[5] == (None, None)    # key with no right rows at all


def test_interval_join_bucket_blocking(spark):
    pts = spark.createDataFrame(
        [(1, 7, 100), (2, 7, 5_000_000_000), (3, 7, 10), (4, 8, 100)],
        "pid long, user_id long, ts_us long",
    )
    ivals = spark.createDataFrame(
        [
            (7, 50, 200, "a"),                       # contains pid 1
            (7, 4_000_000_000, 6_000_000_000, "b"),  # spans buckets; pid 2
            (8, 0, 50, "c"),                         # other key; misses pid 4
        ],
        "user_id long, start_us long, end_us long, label string",
    )
    got = {
        r["pid"]: r["label"]
        for r in dataops.interval_join(
            pts, ivals, bucket=1_000_000_000
        ).collect()
    }
    assert got == {1: "a", 2: "b"}
    # the physical plan must be an equi hash join, not a nested loop
    plan = dataops.interval_join(pts, ivals, bucket=1_000_000_000)._jdf \
        .queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_batch_ann_matches_per_query_brute_force(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(100)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(i, rows[i][1]) for i in (3, 40, 77)],
        "query_id long, qvec array<float>",
    )
    got = {}
    for r in dataops.batch_ann(queries, emb, k=4).collect():
        got.setdefault(r["query_id"], []).append(r["vec_id"])
    for qid in (3, 40, 77):
        brute = [
            r["vec_id"]
            for r in dataops.brute_force_ann(emb, rows[qid][1], 4).collect()
        ]
        assert got[qid] == brute
        assert got[qid][0] == qid  # self is nearest


def test_pack_sequences_invariants(spark):
    rows = [(i, "x" * ((i * 37) % 900 + 50), "en") for i in range(60)]
    rows.append((100, "y" * 5000, "en"))  # oversized: bin of its own
    d = spark.createDataFrame(rows, DOCS_DDL).withColumn(
        "n_chars", F.length("text")
    )
    out = dataops.pack_sequences(d, budget=1000, buckets=4).collect()
    assert len(out) == 61                       # every doc assigned once
    assert len({r["doc_id"] for r in out}) == 61
    fills = {}
    for r in out:
        fills.setdefault((r["bucket"], r["bin_idx"]), 0)
        fills[(r["bucket"], r["bin_idx"])] += r["cost"]
    for (b, i), total in fills.items():
        members = [
            r for r in out if r["bucket"] == b and r["bin_idx"] == i
        ]
        # budget respected unless the bin is a single oversized doc
        assert total <= 1000 or (
            len(members) == 1 and members[0]["cost"] > 1000
        )
    # deterministic under different input partitioning
    out2 = dataops.pack_sequences(
        d.repartition(13), budget=1000, buckets=4
    ).collect()
    key = lambda r: (r["doc_id"], r["bucket"], r["bin_idx"], r["bin_fill"])
    assert sorted(map(key, out)) == sorted(map(key, out2))


def test_quantize_embeddings_bound_and_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = dataops.quantize_embeddings(emb)
    dq = dataops.dequantize(q)
    # error bound: |dequant - x| <= scale/2 per element
    j = (
        emb.join(dq.withColumnRenamed("embedding", "demb"), "vec_id")
        .join(q.select("vec_id", "scale"), "vec_id")
    )
    worst = j.select(
        F.max(
            F.aggregate(
                F.zip_with(
                    "embedding", "demb",
                    lambda a, b: F.abs(a.cast("double") - b.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            )
            / F.col("scale")
        ).alias("m")
    ).first()["m"]
    assert worst <= 0.5 + 1e-9
    # ANN over dequantized codes keeps top-10 recall
    qv = [float(x) for x in emb.first()["embedding"]]
    exact = {r["vec_id"] for r in dataops.brute_force_ann(emb, qv, 10).collect()}
    approx = {r["vec_id"] for r in dataops.brute_force_ann(dq, qv, 10).collect()}
    assert len(exact & approx) >= 9
    # zero vector -> scale 0, all-zero code
    z = spark.createDataFrame(
        [(0, [0.0] * 8)], "vec_id long, embedding array<float>"
    )
    zq = dataops.quantize_embeddings(z).collect()[0]
    assert zq["scale"] == 0.0 and set(zq["qvec"]) == {0}


def test_nfc_normalize_composes(spark):
    decomposed = "caf" + "e" + "́"       # e + combining acute
    composed = "café"
    d = spark.createDataFrame(
        [(0, decomposed, "fr"), (1, composed, "fr"), (2, "plain", "en")],
        DOCS_DDL,
    )
    got = {r["doc_id"]: r for r in dataops.nfc_normalize(d).collect()}
    assert got[0]["text_nfc"] == composed and got[0]["changed"] is True
    assert got[1]["text_nfc"] == composed and got[1]["changed"] is False
    assert got[2]["changed"] is False
    # dedup now sees the two forms as identical
    merged = dataops.exact_dedup(
        dataops.nfc_normalize(d).select(
            "doc_id", F.col("text_nfc").alias("text")
        )
    ).collect()
    by_keep = {r["keep_doc_id"]: r["n_copies"] for r in merged}
    assert by_keep[0] == 2


def test_asof_join_null_value_not_torn(spark):
    """A legitimately-NULL value in the matched right row must stay
    NULL — not leak the previous row's value (whole-row fill)."""
    from datetime import datetime

    L = spark.createDataFrame(
        [(1, 7, datetime(2024, 1, 1, 10, 0, 0))],
        "event_id long, user_id long, ts timestamp",
    )
    R = spark.createDataFrame(
        [
            (7, datetime(2024, 1, 1, 7, 0, 0), 100, 1.0),
            (7, datetime(2024, 1, 1, 9, 0, 0), 200, None),  # matched row
        ],
        "user_id long, ts timestamp, rid long, rval double",
    )
    row = dataops.asof_join(
        L, R, value_cols=["rid", "rval"]
    ).collect()[0]
    assert row["rid"] == 200 and row["rval"] is None


def test_pack_sequences_zero_cost_doc_matches_oracle_semantics(spark):
    """Position-guarded overflow: a zero-cost doc followed by an
    oversized doc must still push the oversized doc to its own bin
    (the recursive-CTE oracle applies the test at every non-first
    step)."""
    d = spark.createDataFrame(
        [(0, "", "en"), (1, "y" * 3000, "en")], DOCS_DDL
    ).withColumn("n_chars", F.length("text"))
    out = {
        r["doc_id"]: r["bin_idx"]
        for r in dataops.pack_sequences(d, budget=2000, buckets=1).collect()
    }
    assert out[0] == 0 and out[1] == 1


# ---------------------------------------------------------------------------
# k-means training
# ---------------------------------------------------------------------------


def _kmeans_numpy_reference(vecs, k, n_iter):
    """Plain-numpy spherical Lloyd: first-k init, argmax-cosine
    first-max-wins assignment, per-dim mean update, empty cell keeps
    its previous centroid."""
    import numpy as np

    def unit(m):
        n = np.linalg.norm(m, axis=1)
        n[n == 0.0] = 1.0
        return m / n[:, None]

    x = np.asarray(vecs, dtype=np.float64)
    cents = x[:k].copy()
    for _ in range(n_iter):
        sims = unit(x) @ unit(cents).T
        cells = np.argmax(sims, axis=1)
        new = cents.copy()
        for c in range(k):
            members = x[cells == c]
            if len(members):
                new[c] = members.mean(axis=0)
        cents = new
    return cents, cells


def test_kmeans_train_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 8)).round(3).tolist()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    got = dataops.kmeans_train(df, k=3, n_iter=3)
    want, _ = _kmeans_numpy_reference(vecs, k=3, n_iter=3)
    assert np.allclose(np.asarray(got), want, atol=1e-9)


def test_kmeans_empty_cell_keeps_centroid(spark):
    # two tight clusters + k=3 where the third init vector is inside
    # cluster one: its cell empties out and must keep its previous
    # centroid instead of becoming zeros/NaN
    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [1.0, 0.05]),
        (3, [0.0, 1.0]), (4, [0.05, 0.95]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = dataops.kmeans_train(df, k=3, n_iter=2)
    assert len(cents) == 3
    assert all(all(math.isfinite(x) for x in c) for c in cents)


# ---------------------------------------------------------------------------
# TF-IDF distinctive terms
# ---------------------------------------------------------------------------


def test_tfidf_demotes_corpus_wide_terms(spark):
    rows = [
        (0, "common spark spark spark", "a"),
        (1, "common flink flink flink", "b"),
        (2, "common beam beam beam", "c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r["source"], r["rank"]): r["term"]
        for r in dataops.tfidf_top_terms(df, "source", k=1).collect()
    }
    # 'common' appears in every doc -> idf = ln(1) = 0 -> never top
    assert got == {("a", 1): "spark", ("b", 1): "flink", ("c", 1): "beam"}


# ---------------------------------------------------------------------------
# deterministic dataset split
# ---------------------------------------------------------------------------


def test_dataset_split_deterministic_and_partition_invariant(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in dataops.dataset_split(df).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in dataops.dataset_split(df.repartition(7)).collect()
    }
    assert a == b
    from collections import Counter

    frac = Counter(a.values())
    assert 0.75 < frac["train"] / 2000 < 0.85
    assert 0.07 < frac["val"] / 2000 < 0.13
    assert 0.07 < frac["test"] / 2000 < 0.13


# ---------------------------------------------------------------------------
# distributed NTILE
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("n,k", [(17, 5), (100, 10), (9, 4), (3, 10)])
def test_distributed_ntile_matches_builtin(spark, n, k):
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [((i * 37) % n, i) for i in range(n)], "val long, id long"
    )
    got = {
        (r["val"], r["id"]): r["bucket"]
        for r in dataops.distributed_ntile(
            df, ["val", "id"], k=k, num_partitions=4
        ).collect()
    }
    w = Window.orderBy("val", "id")
    want = {
        (r["val"], r["id"]): r["b"]
        for r in df.withColumn("b", F.ntile(k).over(w)).collect()
    }
    assert got == want


def test_ivf_with_trained_centroids_recovers_clusters(spark):
    """kmeans_train exists to feed ivf_build: on 4-cluster data the
    trained centroids must (a) recover each true cluster direction,
    (b) balance the cells, and (c) give IVF recall@10 = 1.0 while
    probing a SINGLE cell — the property that makes n_probe << nlist
    viable at scale."""
    import numpy as np

    rng = np.random.default_rng(3)
    centers = np.eye(4).repeat(2, axis=1)  # 4 orthogonal dirs, dim 8
    vecs = []
    for i in range(200):
        c = centers[i % 4]
        vecs.append((c + rng.normal(scale=0.05, size=8)).tolist())
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    trained = dataops.kmeans_train(df, k=4, n_iter=4)

    def cos(a, b):
        a, b = np.asarray(a), np.asarray(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    for c in centers:
        assert max(cos(c, t) for t in trained) > 0.99
    sizes = {
        r["cell"]: r["n"]
        for r in dataops.ivf_assign(df, trained)
        .groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    assert sorted(sizes) == [0, 1, 2, 3]
    assert all(40 <= n <= 60 for n in sizes.values())

    q = vecs[1]
    truth = {r["vec_id"] for r in dataops.brute_force_ann(df, q, k=10).collect()}
    got = {
        r["vec_id"]
        for r in dataops.ivf_ann(df, trained, q, k=10, n_probe=1).collect()
    }
    assert got == truth


def test_table_profile_counts_nulls_and_distincts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b")],
        "k long, v string",
    )
    prof = {r["col_name"]: r for r in dataops.table_profile(df).collect()}
    assert prof["k"]["n_nulls"] == 1 and prof["k"]["n_distinct"] == 2
    assert prof["k"]["min_value"] == "1" and prof["k"]["max_value"] == "2"
    assert prof["v"]["n_nulls"] == 1 and prof["v"]["n_distinct"] == 2
    # approx mode must run without the EXPAND and stay close on tiny data
    approx = {
        r["col_name"]: r["n_distinct"]
        for r in dataops.table_profile(df, exact=False).collect()
    }
    assert approx["k"] == 2 and approx["v"] == 2


def test_bloom_filter_no_false_negatives_and_low_fp(spark):
    members = spark.range(0, 500).withColumnRenamed("id", "k")
    bloom = dataops.bloom_build(members, "k", m_bits=1 << 14, k_hashes=4)
    probes = spark.range(0, 5000).withColumnRenamed("id", "k")
    res = {r["k"]: r["pass"] for r in dataops.bloom_probe(
        probes, "k", bloom, m_bits=1 << 14, k_hashes=4
    ).collect()}
    # zero false negatives: every member passes
    assert all(res[k] for k in range(500))
    # false-positive rate stays near theory: (1-exp(-kn/m))^k ~ 0.13%
    # at n=500, m=16384, k=4; allow generous slack
    fp = sum(1 for k in range(500, 5000) if res[k])
    assert fp / 4500 < 0.02


def test_bloom_filter_word_table_is_tiny(spark):
    members = spark.range(0, 1000).withColumnRenamed("id", "k")
    bloom = dataops.bloom_build(members, "k", m_bits=1 << 14, k_hashes=4)
    # sparse word table never exceeds m_bits/32 rows (broadcastable)
    assert bloom.count() <= (1 << 14) // 32


def test_key_skew_stats_orders_and_shares(spark):
    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1, "k string"
    )
    rows = dataops.key_skew_stats(df, "k", top_n=2).collect()
    assert [(r["rank"], r["key"], r["n_rows"]) for r in rows] == [
        (1, "a", 6), (2, "b", 3),
    ]
    assert rows[0]["share_pct"] == 60.0


def test_zorder_layout_clusters_box_queries(spark, tmp_path):
    """The point of zorder_layout: rows matching a box predicate on
    BOTH dimensions live in few files, so stats-based readers prune.
    A single-column sort clusters only its own column — a narrow
    filter on the OTHER dimension touches every file."""
    rows = [(float(i % 100), float((i // 100) % 100)) for i in range(20000)]
    df = spark.createDataFrame(rows, "x double, y double")

    zpath = str(tmp_path / "zsorted")
    lpath = str(tmp_path / "xsorted")
    dataops.zorder_layout(df, ["x", "y"], bits=6, num_files=16).write.parquet(zpath)
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(lpath)

    def files_touched(path, pred):
        return (
            spark.read.parquet(path)
            .filter(pred)
            .select(F.input_file_name())
            .distinct()
            .count()
        )

    pred = (F.col("y") >= 10.0) & (F.col("y") < 20.0)  # narrow in y only
    z_files = files_touched(zpath, pred)
    l_files = files_touched(lpath, pred)
    assert l_files == 16          # x-sort spreads y everywhere
    assert z_files <= l_files // 2  # z-order confines the y-band

    # and the layout loses no rows
    assert spark.read.parquet(zpath).count() == 20000


def test_zorder_value_interleaves_bits(spark):
    df = spark.createDataFrame([(5, 3)], "a int, b int")  # 101, 011
    z = df.select(
        dataops.zorder_value([F.col("a"), F.col("b")], bits=3).alias("z")
    ).collect()[0]["z"]
    # bit j of dim i -> position j*2+i: a=101,b=011 -> z = 0b011011 +
    # check by direct formula
    want = sum(((5 >> j) & 1) << (2 * j) for j in range(3)) + sum(
        ((3 >> j) & 1) << (2 * j + 1) for j in range(3)
    )
    assert z == want


def test_incremental_exact_dedup_composes_across_batches(spark, tmp_path):
    from kgspark.io import TableIO

    io = TableIO(str(tmp_path / "wh"))
    b1 = spark.createDataFrame(
        [(0, "alpha text"), (1, "alpha text"), (2, "beta text")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, "alpha text"), (4, "gamma text"), (5, "gamma text")],
        "doc_id long, text string",
    )
    k1 = sorted(r["doc_id"] for r in
                dataops.incremental_exact_dedup(io, spark, b1).collect())
    k2 = sorted(r["doc_id"] for r in
                dataops.incremental_exact_dedup(io, spark, b2).collect())
    assert k1 == [0, 2]        # in-batch dup 1 dropped
    assert k2 == [4]           # 3 seen in batch 1; in-batch dup 5 dropped
    # survivors equal the global dedup keep-count on the union corpus
    union = b1.unionByName(b2)
    global_keeps = dataops.exact_dedup(union).count()
    assert len(k1) + len(k2) == global_keeps
    # replaying the same batch is idempotent-with-results: the same
    # survivors come back (batch-id-keyed commit), never [] — see
    # test_incremental_dedup_replay_after_crash_returns_survivors
    k2b = sorted(r["doc_id"] for r in
                 dataops.incremental_exact_dedup(io, spark, b2).collect())
    assert k2b == k2


def test_scale_plan_shapes_bloom_and_zorder(spark):
    """Plan-level guards for the r3 layout/filter ops: the bloom probe
    must stay a broadcast join (never a shuffled join on the word
    table), and zorder_layout must plan a range exchange with no
    global sort or sort-merge join."""
    members = spark.range(0, 200).withColumnRenamed("id", "k")
    bloom = dataops.bloom_build(members, "k", m_bits=1 << 12, k_hashes=4)
    probe_plan = dataops.bloom_probe(
        spark.range(0, 1000).withColumnRenamed("id", "k"), "k", bloom,
        m_bits=1 << 12, k_hashes=4,
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in probe_plan
    assert "SortMergeJoin" not in probe_plan

    df = spark.createDataFrame(
        [(float(i % 50), float(i // 50)) for i in range(1000)],
        "x double, y double",
    )
    z_plan = dataops.zorder_layout(df, ["x", "y"], bits=4, num_files=4)
    zs = z_plan._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in zs.lower()
    assert "SortMergeJoin" not in zs
    # the min/max stats side rides in as a broadcast, not a shuffle
    assert "BroadcastNestedLoopJoin" in zs or "BroadcastHashJoin" in zs


def test_bloom_probe_duplicated_member_keys_still_pass(spark):
    """Regression: a member key appearing r times yields r*k probe
    rows; the pass rule must be per-row min, not a sum==k count, or
    every duplicated member false-negatives (fact tables ALWAYS have
    duplicate join keys)."""
    members = spark.range(0, 50).withColumnRenamed("id", "k")
    bloom = dataops.bloom_build(members, "k", m_bits=1 << 12, k_hashes=4)
    dup_probes = spark.createDataFrame(
        [(k,) for k in range(50) for _ in range(3)], "k long"
    )
    res = dataops.bloom_probe(
        dup_probes, "k", bloom, m_bits=1 << 12, k_hashes=4
    )
    assert all(r["pass"] for r in res.collect())
    assert res.count() == 50


def test_incremental_dedup_replay_after_crash_returns_survivors(spark, tmp_path):
    """Regression: if the caller crashes after the fingerprint commit
    but before persisting the survivors, replaying the SAME batch must
    return the same survivors (batch-id-keyed commit), not [] — else
    the documents are fingerprint-burned and lost forever."""
    from kgspark.io import TableIO

    io = TableIO(str(tmp_path / "wh"))
    b1 = spark.createDataFrame(
        [(0, "first text"), (1, "second text")], "doc_id long, text string"
    )
    k1 = sorted(r["doc_id"] for r in
                dataops.incremental_exact_dedup(io, spark, b1).collect())
    assert k1 == [0, 1]
    # simulate the crash-replay: same batch again
    k1b = sorted(r["doc_id"] for r in
                 dataops.incremental_exact_dedup(io, spark, b1).collect())
    assert k1b == k1
    # no duplicate fingerprint commit happened
    assert len(io.accumulated_snapshots("corpus_fingerprints")) == 1
    # and a DIFFERENT batch still dedupes against batch 1
    b2 = spark.createDataFrame(
        [(2, "first text"), (3, "third text")], "doc_id long, text string"
    )
    k2 = sorted(r["doc_id"] for r in
                dataops.incremental_exact_dedup(io, spark, b2).collect())
    assert k2 == [3]


def test_kmeans_oracle_sql_handles_emptied_cell(spark):
    """Regression: the unrolled-Lloyd oracle must keep an emptied
    cell's previous centroid (kmeans_train semantics) instead of
    dropping it. Repro: vec 3 sits between the two init centroids;
    after iter 1 update, cell 1 can empty and later re-win."""
    import duckdb

    import __spark_entry__ as em

    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
            (3, [0.6, 0.8])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = dataops.kmeans_train(df, k=2, n_iter=2)
    got = {
        r["cell"]: (r["n"], r["avg_cos"])
        for r in dataops.ivf_assign(df, cents, with_score=True)
        .groupBy("cell").agg(
            F.count("*").alias("n"), F.round(F.avg("best_cos"), 6).alias("avg_cos")
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {v}::DOUBLE[])" for i, v in
            [(r[0], str(r[1])) for r in rows]
        )
        + ") t(vec_id, embedding)"
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(em._kmeans_cluster_sql(k=2, dim=2)).fetchall()
    }
    assert set(got) == set(want)
    for c in got:
        assert got[c][0] == want[c][0]
        assert abs(got[c][1] - want[c][1]) < 1e-9


# ---------------------------------------------------------------------------
# corpus cleaning: paragraph dedup / unigram LM / quality classifier
# ---------------------------------------------------------------------------


def test_paragraph_dedup_drops_cross_doc_boilerplate(spark):
    # "nav home about" is the shared boilerplate line; body lines are
    # unique per doc. CCNet semantics: ALL copies of the shared line
    # go; unique lines survive; within-doc repetition alone stays.
    d = spark.createDataFrame(
        [
            (0, "nav home about\nunique body zero\nrepeat me\nrepeat me", "en"),
            (1, "nav home about\nunique body one", "en"),
            (2, "solo document two", "en"),
        ],
        DOCS_DDL,
    )
    got = {
        r["doc_id"]: r
        for r in dataops.paragraph_dedup(
            d, min_docs=2, mode="delims", delim="\n"
        ).collect()
    }
    assert got[0]["n_paras"] == 4 and got[0]["n_dropped"] == 1
    assert got[1]["n_paras"] == 2 and got[1]["n_dropped"] == 1
    assert got[2]["n_paras"] == 1 and got[2]["n_dropped"] == 0
    # doc 1's survivor set is exactly its unique body line
    import hashlib

    assert (
        got[1]["clean_md5"]
        == hashlib.md5(b"unique body one").hexdigest()
    )
    # within-doc repeats of doc 0 both survive (2 distinct docs needed)
    assert (
        got[0]["clean_md5"]
        == hashlib.md5(
            b"unique body zero\nrepeat me\nrepeat me"
        ).hexdigest()
    )


def test_paragraph_dedup_window_mode_positions(spark):
    # 8 words -> two 4-word windows; second window shared across docs
    d = spark.createDataFrame(
        [
            (0, "a b c d X Y Z W", "en"),
            (1, "p q r s X Y Z W", "en"),
        ],
        DOCS_DDL,
    )
    got = {
        r["doc_id"]: r
        for r in dataops.paragraph_dedup(
            d, min_docs=2, mode="window", words_per_para=4
        ).collect()
    }
    for i in (0, 1):
        assert got[i]["n_paras"] == 2 and got[i]["n_dropped"] == 1


def test_unigram_lm_rare_words_score_higher(spark):
    # doc 3 is all hapax words; docs 0-2 share the head vocabulary.
    d = spark.createDataFrame(
        [
            (0, "the cat sat on the mat", "en"),
            (1, "the cat ran on the mat", "en"),
            (2, "the cat sat on the rug", "en"),
            (3, "zyx wvu tsr qpo nml kji", "en"),
        ],
        DOCS_DDL,
    )
    got = {
        r["doc_id"]: r["avg_neg_logp"]
        for r in dataops.unigram_lm_score(d).collect()
    }
    assert got[3] > max(got[0], got[1], got[2])
    # perplexity consistent with the score
    row = dataops.unigram_lm_score(d).filter(F.col("doc_id") == 3).first()
    assert abs(row["ppl"] - math.exp(row["avg_neg_logp"])) < 1e-3


def test_quality_classifier_deterministic_and_broadcast(spark, docs):
    out = dataops.quality_classifier(docs.filter(F.col("text") != ""))
    a = {r["doc_id"]: r["quality_prob"] for r in out.collect()}
    b = {r["doc_id"]: r["quality_prob"] for r in out.collect()}
    assert a == b and all(0.0 < v < 1.0 for v in a.values())
    # identical texts get identical scores
    assert a[0] == a[1]
    # the weight-table join must be broadcast (fixed-size model side)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_scd2_history_runs_and_intervals(spark):
    from datetime import datetime as dt

    rows = [
        (0, dt(2024, 1, 1, 0, 0), 7, "A", 0.0, "{}"),
        (1, dt(2024, 1, 1, 1, 0), 7, "A", 0.0, "{}"),   # same run
        (2, dt(2024, 1, 1, 2, 0), 7, "B", 0.0, "{}"),   # change
        (3, dt(2024, 1, 1, 3, 0), 7, "A", 0.0, "{}"),   # change back
        (4, dt(2024, 1, 1, 0, 30), 8, "X", 0.0, "{}"),  # other user
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    hist = sorted(
        (r for r in dataops.scd2_history(ev).collect()
         if r["user_id"] == 7),
        key=lambda r: r["valid_from_us"],
    )
    assert [h["state"] for h in hist] == ["A", "B", "A"]
    assert [h["n_events"] for h in hist] == [2, 1, 1]
    # intervals chain: each run closes exactly where the next opens
    assert hist[0]["valid_to_us"] == hist[1]["valid_from_us"]
    assert hist[1]["valid_to_us"] == hist[2]["valid_from_us"]
    assert hist[2]["valid_to_us"] == -1 and hist[2]["is_current"]
    assert not hist[0]["is_current"] and not hist[1]["is_current"]


def test_trailing_window_range_frame(spark):
    from datetime import datetime as dt

    rows = [
        (1, 5, "O", 100.0, dt(2024, 1, 1), "P"),
        (2, 5, "O", 200.0, dt(2024, 1, 20), "P"),   # within 30d of #1
        (3, 5, "O", 400.0, dt(2024, 3, 1), "P"),    # outside 30d
        (4, 5, "O", 50.0, dt(2024, 3, 1), "P"),     # TIE with #3
        (5, 6, "O", 999.0, dt(2024, 1, 10), "P"),   # other customer
    ]
    o = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    got = {
        r["o_orderkey"]: r
        for r in dataops.trailing_window_agg(o, days=30).collect()
    }
    assert got[1]["n_in_window"] == 1 and got[1]["trailing_sum"] == 100.0
    assert got[2]["n_in_window"] == 2 and got[2]["trailing_sum"] == 300.0
    # RANGE (not ROWS): the tied-date orders see each other both ways
    assert got[3]["n_in_window"] == 2 and got[3]["trailing_sum"] == 450.0
    assert got[4]["n_in_window"] == 2 and got[4]["trailing_sum"] == 450.0
    assert got[5]["n_in_window"] == 1
    assert got[2]["trailing_avg"] == 150.0


def test_data_quality_report_finds_injected_violations(spark):
    customers = spark.createDataFrame(
        [(1,), (2,), (None,)], "c_custkey long"
    )
    orders = spark.createDataFrame(
        [(10, 1, 5.0, "O"), (10, 2, -3.0, "O"), (11, 99, 7.0, "Z")],
        "o_orderkey long, o_custkey long, o_totalprice double,"
        " o_orderstatus string",
    )
    checks = [
        {"id": "nn", "type": "not_null", "table": "customer",
         "column": "c_custkey"},
        {"id": "uq", "type": "unique", "table": "orders",
         "columns": ["o_orderkey"]},
        {"id": "fk", "type": "referential", "table": "orders",
         "column": "o_custkey", "ref_table": "customer",
         "ref_column": "c_custkey"},
        {"id": "rng", "type": "range", "table": "orders",
         "column": "o_totalprice", "min": 0},
        {"id": "acc", "type": "accepted", "table": "orders",
         "column": "o_orderstatus", "values": ["P", "O", "F"]},
    ]
    got = {
        r["check_id"]: r["n_violations"]
        for r in dataops.data_quality_report(
            {"customer": customers, "orders": orders}, checks
        ).collect()
    }
    assert got == {"nn": 1, "uq": 1, "fk": 1, "rng": 1, "acc": 1}


def test_prefix_jaccard_join_exact_vs_brute_force(spark):
    # guaranteed recall: result must EQUAL the brute-force all-pairs
    # jaccard at the threshold, including pairs sharing only rare tokens
    seven = "alpha bravo charlie delta echo foxtrot golf"
    twelve = "one two three four five six seven eight nine ten eleven twelve"
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today", "en"),
        (1, "the quick brown fox jumps over the lazy dog tonight", "en"),
        (2, "the quick brown fox leaps over the lazy dog today", "en"),
        (3, "completely different text about spark query engines", "en"),
        (4, "completely different text about spark query planners", "en"),
        (5, "unrelated content entirely on its own here now ok", "en"),
        # a doc and its one-word-shorter prefix: 4 of 5 shingles (J =
        # 0.8) and 9 of 10 (J = 0.9), exactly at the threshold, where
        # 1.0 - t in floating point falls below the true value
        (6, seven, "en"),
        (7, seven.rsplit(" ", 1)[0], "en"),
        (8, twelve, "en"),
        (9, twelve.rsplit(" ", 1)[0], "en"),
    ]
    d = spark.createDataFrame(rows, DOCS_DDL)

    def sh(t):
        w = t.split()
        return {
            " ".join(w[i : i + 3]) for i in range(max(len(w) - 2, 1))
        }

    for t in (0.3, 0.5, 0.6, 0.7, 0.8, 0.9):
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dataops.prefix_jaccard_join(
                d, threshold=t, n=3
            ).collect()
        }
        want = {}
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                a, b = sh(rows[i][1]), sh(rows[j][1])
                jac = len(a & b) / len(a | b)
                if round(jac, 6) >= t:
                    want[(i, j)] = round(jac, 6)
        assert got == want, t
        assert (8, 9) in want and ((6, 7) in want) == (t <= 0.8)
        assert t > 0.3 or len(want) >= 5


def test_weighted_sample_deterministic_and_weight_sensitive(spark):
    rows = [(i, "x", "en") for i in range(200)]
    d = spark.createDataFrame(rows, DOCS_DDL).withColumn(
        "w", F.when(F.col("doc_id") < 20, 1000.0).otherwise(1.0)
    )
    s1 = [r["doc_id"] for r in dataops.weighted_sample(d, "w", k=30).collect()]
    s2 = [r["doc_id"] for r in dataops.weighted_sample(d, "w", k=30).collect()]
    assert s1 == s2  # deterministic, ordering included
    # the 20 heavy docs (1000x weight) should essentially all be drawn
    heavy = sum(1 for i in s1 if i < 20)
    assert heavy >= 18
    # zero/negative weights never sampled
    d2 = d.withColumn(
        "w", F.when(F.col("doc_id") % 2 == 0, -1.0).otherwise(F.col("w"))
    )
    s3 = [r["doc_id"] for r in dataops.weighted_sample(d2, "w", k=50).collect()]
    assert all(i % 2 == 1 for i in s3)


def test_table_checksum_order_independent_and_sensitive(spark):
    ddl = "k long, v string"
    a = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], ddl)
    b = spark.createDataFrame([(3, "z"), (1, "x"), (2, "y")], ddl)
    ca = dataops.table_checksum(a).first()
    cb = dataops.table_checksum(b.repartition(7)).first()
    assert (ca["n_rows"], ca["checksum"]) == (cb["n_rows"], cb["checksum"])
    # any single-row change flips the checksum
    c = spark.createDataFrame([(1, "x"), (2, "y"), (3, "Z")], ddl)
    cc = dataops.table_checksum(c).first()
    assert cc["checksum"] != ca["checksum"]
    # empty table is the identity
    e = dataops.table_checksum(
        spark.createDataFrame([], ddl)
    ).first()
    assert (e["n_rows"], e["checksum"]) == (0, 0)


def test_bigram_lm_flags_shuffled_text(spark):
    # same unigram distribution, broken bigram structure: the shuffled
    # doc must out-score the natural ones — the signal unigram misses
    natural = "the cat sat on the mat"
    rows = [(i, natural, "en") for i in range(5)]
    rows.append((99, "mat the on sat cat the", "en"))
    d = spark.createDataFrame(rows, DOCS_DDL)
    got = {
        r["doc_id"]: r for r in dataops.bigram_lm_score(d).collect()
    }
    assert got[99]["avg_neg_logp"] > got[0]["avg_neg_logp"]
    assert got[0]["n_bigrams"] == 5
    import math

    assert abs(
        got[99]["ppl"] - math.exp(got[99]["avg_neg_logp"])
    ) < 1e-3
    # unigram LM sees no difference between the two docs
    uni = {
        r["doc_id"]: r["avg_neg_logp"]
        for r in dataops.unigram_lm_score(d).collect()
    }
    assert uni[99] == uni[0]


def test_char_entropy_orders_texts_correctly(spark):
    import math

    d = spark.createDataFrame(
        [
            (0, "aaaaaaaaaa", "en"),                    # ~0 bits
            (1, "abababababab", "en"),                  # ~1 bit (+space? no)
            (2, "the quick brown fox jumps", "en"),     # natural
            (3, "q9$Kz!7pW@x2Lm#8vR%4tY&", "en"),       # key-mash
        ],
        DOCS_DDL,
    )
    got = {
        r["doc_id"]: r["entropy_bits"]
        for r in dataops.char_entropy(d).collect()
    }
    assert got[0] == 0.0
    assert abs(got[1] - 1.0) < 1e-6
    assert got[0] < got[1] < got[2] < got[3]
    # closed form check for the two-symbol doc
    assert got[1] == round(-2 * 0.5 * math.log2(0.5), 6)


def test_filtered_ann_prefilter_semantics(spark):
    import math

    rows = [(i, [math.cos(i * 0.3), math.sin(i * 0.3)], i % 2)
            for i in range(40)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    allowed = emb.filter(F.col("label") == 1).select("vec_id")
    q = [1.0, 0.0]
    got = dataops.filtered_ann(emb, allowed, q, k=5).collect()
    ids = [r["vec_id"] for r in got]
    assert len(ids) == 5 and all(i % 2 == 1 for i in ids)
    # equals brute force over the restricted set (pre-filter, so the
    # k results are the best ALLOWED rows, not allowed rows of top-k)
    brute = sorted(
        ((i, v) for i, v, lab in rows if lab == 1),
        key=lambda t: -(t[1][0] * 1.0 + t[1][1] * 0.0)
        / math.hypot(*t[1]),
    )[:5]
    assert ids == [i for i, _ in brute]


def test_curate_corpus_composition_invariants(spark):
    rows = [(i, f"doc body {'common words here ' * (1 + i % 4)}tok{i}",
             "en") for i in range(40)]
    rows += [(100, rows[0][1], "en"), (101, rows[1][1], "en")]  # dups
    d = spark.createDataFrame(rows, DOCS_DDL)
    out = dataops.curate_corpus(d, k=10, threshold_pct=0.25).collect()
    ids = [r["doc_id"] for r in out]
    assert len(ids) == 10 and len(set(ids)) == 10
    # duplicate copies (100, 101) never survive dedup
    assert 100 not in ids and 101 not in ids
    # every sampled doc clears the self-calibrated p25 cutoff
    qc = dataops.quality_classifier(
        d.filter(~F.col("doc_id").isin(100, 101))
    ).select("doc_id", "quality_prob")
    probs = {r["doc_id"]: r["quality_prob"] for r in qc.collect()}
    import numpy as np

    thr = float(np.percentile(
        sorted(probs.values()), 25, method="linear"))
    assert all(probs[i] >= thr - 1e-9 for i in ids)
    # deterministic
    out2 = dataops.curate_corpus(d, k=10, threshold_pct=0.25).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in out2]


def test_ewma_hand_computed_and_renormalized(spark):
    from datetime import datetime as dt

    rows = [
        (0, dt(2024, 1, 1, 0, 0), 7, "x", 10.0, "{}"),
        (1, dt(2024, 1, 1, 1, 0), 7, "x", 20.0, "{}"),
        (2, dt(2024, 1, 1, 2, 0), 7, "x", 40.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    got = {
        r["event_id"]: r["ewma"]
        for r in dataops.ewma_features(ev, alpha=0.5).collect()
    }
    # first row: only itself -> renormalized EWMA equals the value
    assert got[0] == 10.0
    # second: (0.5*20 + 0.25*10)/(0.75)
    assert got[1] == round((0.5 * 20 + 0.25 * 10) / 0.75, 6)
    # third: (0.5*40 + 0.25*20 + 0.125*10)/(0.875)
    assert got[2] == round(
        (0.5 * 40 + 0.25 * 20 + 0.125 * 10) / 0.875, 6
    )


def test_funnel_orders_stages_strictly(spark):
    from datetime import datetime as dt

    rows = [
        # u1 completes in order
        (0, dt(2024, 1, 1, 0), 1, "signup", 0.0, "{}"),
        (1, dt(2024, 1, 1, 2), 1, "view", 0.0, "{}"),
        (2, dt(2024, 1, 1, 4), 1, "purchase", 0.0, "{}"),
        # u2 viewed BEFORE signing up -> stops at signup
        (3, dt(2024, 1, 2, 0), 2, "view", 0.0, "{}"),
        (4, dt(2024, 1, 2, 1), 2, "signup", 0.0, "{}"),
        # u3 purchases before viewing -> reaches view, not purchase
        (5, dt(2024, 1, 3, 0), 3, "signup", 0.0, "{}"),
        (6, dt(2024, 1, 3, 1), 3, "purchase", 0.0, "{}"),
        (7, dt(2024, 1, 3, 2), 3, "view", 0.0, "{}"),
        # u4 never signs up
        (8, dt(2024, 1, 4, 0), 4, "view", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    got = {
        r["stage"]: r for r in dataops.funnel_stages(ev).collect()
    }
    assert got["signup"]["n_users"] == 3       # u1, u2, u3
    assert got["view"]["n_users"] == 2         # u1, u3 (u2 viewed early)
    assert got["purchase"]["n_users"] == 1     # u1 only
    # u1 viewed 2h after signup, u3 also 2h after -> median 2h
    assert got["view"]["median_hours_from_prev"] == 2.0
    # u1's purchase lands 2h after its view
    assert got["purchase"]["median_hours_from_prev"] == 2.0


def test_value_moments_against_numpy(spark):
    import numpy as np
    from datetime import datetime as dt, timedelta

    vals = [float(v) for v in (1, 2, 3, 4, 100)]
    rows = [
        (i, dt(2024, 1, 1) + timedelta(hours=i), 1, "buy", v, "{}")
        for i, v in enumerate(vals)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    r = dataops.value_moments(ev).first()
    assert r["n"] == 5
    assert r["mean_value"] == round(float(np.mean(vals)), 6)
    assert r["stddev_value"] == round(float(np.std(vals, ddof=1)), 6)
    assert r["mean_minus_median"] == round(
        float(np.mean(vals) - np.median(vals)), 6
    )
    # value rises with hour here -> strong positive correlation
    assert r["corr_value_hour"] > 0.5


def test_dsir_importance_tilts_toward_target_vocabulary(spark):
    # target docs use the 'quantum physics' vocabulary; corpus docs
    # that share it must out-score generic-web docs
    target_texts = ["quantum entanglement photon decoherence qubit"] * 3
    corpus = [
        (0, "quantum photon qubit entanglement measurement", "en"),
        (1, "cheap shoes sale discount free shipping now", "en"),
        (2, "photon decoherence experiment qubit lattice", "en"),
        (3, "celebrity gossip fashion trends viral video", "en"),
    ]
    tgt = spark.createDataFrame(
        [(100 + i, t, "en") for i, t in enumerate(target_texts)],
        DOCS_DDL,
    )
    docs = spark.createDataFrame(corpus, DOCS_DDL)
    got = {
        r["doc_id"]: r["importance"]
        for r in dataops.dsir_importance(docs, tgt).collect()
    }
    assert min(got[0], got[2]) > max(got[1], got[3])
    # deterministic
    again = {
        r["doc_id"]: r["importance"]
        for r in dataops.dsir_importance(docs, tgt).collect()
    }
    assert got == again


def test_fuzzy_string_join_recall_and_precision(spark):
    left = spark.createDataFrame(
        [("contrct",), ("spark",), ("zzzzz",), ("cat",)], "p string"
    )
    right = spark.createDataFrame(
        [("contract",), ("sparks",), ("spork",), ("cart",),
         ("dog",), ("contracts",)],
        "w string",
    )
    got = {
        (r["l_val"], r["r_val"]): r["dist"]
        for r in dataops.fuzzy_string_join(
            left, right, "p", "w", max_dist=1
        ).collect()
    }
    # brute-force truth at levenshtein <= 1
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1,
                    prev + (ca != cb),
                )
        return dp[-1]

    want = {
        (p, w): lev(p, w)
        for p, w in itertools.product(
            ["contrct", "spark", "zzzzz", "cat"],
            ["contract", "sparks", "spork", "cart", "dog",
             "contracts"],
        )
        if lev(p, w) <= 1
    }
    assert got == want
    # short strings (cat/cart) rely on the q=2 gram ladder
    assert ("cat", "cart") in got


def test_semantic_dedup_blocked_subset_of_exact(spark):
    """SemDeDup (cluster-blocked) pairs are exactly the EXACT near-dup
    pairs whose endpoints share a cell: same cosines, no extras — and
    with a single centroid (one cell) the two are identical."""
    from kgspark.dataops import (
        embedding_near_dup,
        ivf_assign,
        semantic_dedup_pairs,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.05, 0.99, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]

    got = {
        (r["vec_a"], r["vec_b"]): round(r["cosine"], 6)
        for r in semantic_dedup_pairs(emb, cents, threshold=0.8).collect()
    }
    exact = {
        (r["vec_a"], r["vec_b"]): round(r["cosine"], 6)
        for r in embedding_near_dup(emb, threshold=0.8).collect()
    }
    cell = {
        r["vec_id"]: r["cell"] for r in ivf_assign(emb, cents).collect()
    }
    expected = {
        p: c for p, c in exact.items() if cell[p[0]] == cell[p[1]]
    }
    assert got == expected and got  # (0,1) and (2,3) here
    # one cell -> blocking is a no-op -> identical to the exact op
    one = {
        (r["vec_a"], r["vec_b"]): round(r["cosine"], 6)
        for r in semantic_dedup_pairs(
            emb, [[1.0, 1.0, 1.0, 1.0]], threshold=0.8
        ).collect()
    }
    assert one == exact


def test_source_mix_report_hand_computed(spark):
    from kgspark.dataops import source_mix_report

    docs = spark.createDataFrame(
        [
            (0, "alpha beta", "web"),
            (1, "alpha  beta", "web"),   # same normalized content
            (2, "gamma", "web"),
            (3, "delta epsilon zeta", "wiki"),
        ],
        "doc_id long, text string, source string",
    )
    got = {r["source"]: r.asDict() for r in source_mix_report(docs).collect()}
    web, wiki = got["web"], got["wiki"]
    assert web["n_docs"] == 3 and web["n_unique"] == 2
    assert web["dup_rate"] == round(1 - 2 / 3, 6)
    assert web["total_ws_tokens"] == 2 + 2 + 1
    assert wiki["n_docs"] == 1 and wiki["dup_rate"] == 0.0
    assert wiki["total_ws_tokens"] == 3


def test_source_overlap_hand_computed(spark):
    from kgspark.dataops import source_overlap

    docs = spark.createDataFrame(
        [
            (0, "shared text", "a"),
            (1, "shared text", "b"),   # same fp in a and b
            (2, "only in a", "a"),
            (3, "only in b", "b"),
            (4, "only in c", "c"),     # no overlap -> no row
        ],
        "doc_id long, text string, source string",
    )
    rows = source_overlap(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["source_a"], r["source_b"], r["n_shared"]) == ("a", "b", 1)
    assert r["jaccard"] == round(1 / 3, 6)  # |A|=2, |B|=2, inter=1


def test_per_source_sample_deterministic_and_balanced(spark):
    from kgspark.dataops import per_source_sample

    docs = spark.createDataFrame(
        [(i, f"t{i}", f"s{i % 3}") for i in range(30)],
        "doc_id long, text string, source string",
    )
    got = per_source_sample(docs, k=4).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    assert all(len(v) == 4 for v in by_src.values()) and len(by_src) == 3
    # repeat run draws the identical sample (hash order, no rand())
    again = {
        (r["source"], r["doc_id"]) for r in per_source_sample(docs, k=4).collect()
    }
    assert again == {(r["source"], r["doc_id"]) for r in got}


def test_zipf_slope_detects_flat_vs_skewed(spark):
    """A corpus where every term is equally frequent has slope ~0; a
    geometrically decaying one is strongly negative."""
    from kgspark.dataops import zipf_slope

    flat = spark.createDataFrame(
        [(i, "aa bb cc dd") for i in range(10)], "doc_id long, text string"
    )
    assert abs(zipf_slope(flat, top_n=4).first()["zipf_slope"]) < 1e-9

    rows = []
    did = 0
    for rank, term in enumerate(["t0", "t1", "t2", "t3"]):
        for _ in range(2 ** (4 - rank)):  # 16, 8, 4, 2
            rows.append((did, term))
            did += 1
    skew = spark.createDataFrame(rows, "doc_id long, text string")
    s = zipf_slope(skew, top_n=4).first()["zipf_slope"]
    assert s < -0.5


def test_collocations_pmi_finds_fixed_phrase(spark):
    """A phrase whose words only ever appear together maxes PMI; a
    pair of independent common words scores near zero."""
    rows = []
    for i in range(10):
        rows.append((i, "san francisco " + "the cat " * 5))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from kgspark.dataops import collocations_pmi

    got = {(r["a"], r["b"]): r for r in collocations_pmi(docs, min_count=5, k=10).collect()}
    assert ("san", "francisco") in got
    sf = got[("san", "francisco")]["pmi"]
    # p(san francisco)=p(san)=p(francisco) -> PMI = ln(N^2 / (B * n))
    assert sf == max(r["pmi"] for r in got.values())
    if ("the", "cat") in got:
        assert got[("the", "cat")]["pmi"] < sf


def test_embedding_norm_stats_flags_zero_norm(spark):
    from kgspark.dataops import embedding_norm_stats

    emb = spark.createDataFrame(
        [(0, [3.0, 4.0]), (1, [0.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    r = embedding_norm_stats(emb).first()
    assert r["n_vecs"] == 3 and r["n_zero_norm"] == 1
    assert r["dim_min"] == r["dim_max"] == 2
    assert r["max_norm"] == 5.0 and r["min_norm"] == 0.0


def test_kmeans_inertia_tight_vs_loose_cells(spark):
    from kgspark.dataops import kmeans_inertia

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]), (1, [1.0, 0.0]),          # exactly on c0
            (2, [0.0, 1.0]), (3, [0.5, 1.0]),          # around c1
        ],
        "vec_id long, embedding array<float>",
    )
    got = {r["cell"]: r for r in kmeans_inertia(
        emb, [[1.0, 0.0], [0.0, 1.0]]).collect()}
    assert got[0]["n_members"] == 2 and got[0]["avg_cos_dist"] == 0.0
    assert got[1]["n_members"] == 2 and got[1]["avg_cos_dist"] > 0.0


def test_value_twap_weights_by_holding_time(spark):
    """value 10 held 90s then value 0 held 10s -> TWAP 9; the final
    event has no interval and drops; single-event users emit nothing."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 1, 10.0),
        (2, base + dt.timedelta(seconds=90), 1, 0.0),
        (3, base + dt.timedelta(seconds=100), 1, 99.0),   # no successor
        (4, base, 2, 5.0),                                 # single event
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, value double"
    )
    from kgspark.dataops import value_twap

    got = {r["user_id"]: r for r in value_twap(ev).collect()}
    assert set(got) == {1}
    assert got[1]["n_intervals"] == 2
    assert got[1]["twap"] == 9.0


def test_lm_perplexity_buckets_split_and_order(spark):
    """Repeated head-vocabulary docs land in 'head'; the rare-word doc
    lands in 'tail'; bucket boundaries follow the corpus's own score
    percentiles (every bucket non-empty on a 3-way spread)."""
    rows = (
        [(i, "the cat sat on the mat") for i in range(4)]
        + [(10 + i, "the dog ran to the cat") for i in range(4)]
        + [(20, "zxqv wvut qqqz")]  # hapax gibberish
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from kgspark.dataops import lm_perplexity_buckets

    got = {r["doc_id"]: r for r in lm_perplexity_buckets(docs).collect()}
    assert got[20]["bucket"] == "tail"
    scores = {d: r["avg_neg_logp"] for d, r in got.items()}
    assert scores[20] == max(scores.values())
    # buckets are ordered by score: max(head) <= min(middle) <= min(tail)
    by_bucket = {}
    for d, r in got.items():
        by_bucket.setdefault(r["bucket"], []).append(r["avg_neg_logp"])
    if "head" in by_bucket and "tail" in by_bucket:
        assert max(by_bucket["head"]) <= min(by_bucket["tail"])


# ---------------------------------------------------------------------------
# round 5: scale fixes
# ---------------------------------------------------------------------------


def test_kmeans_inertia_arrow_plan_no_centroid_literals(spark):
    """r5 directive 1: the inertia plan must NOT rebuild the
    all-centroid cosine literal array (the r4 codegen blowup) — the
    distance comes from the best_cos the assignment matmul already
    computed. Distinctive centroid components would appear verbatim in
    the plan string if any literal re-score survived."""
    from kgspark.dataops import kmeans_inertia

    marker = 0.1234567891
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.2]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    cents = [[marker, 0.0], [0.0, marker]]

    plan = kmeans_inertia(emb, cents)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "ArrowEvalPython" in plan and str(marker) not in plan


def test_kmeans_inertia_matches_numpy_reference(spark):
    """kmeans_inertia equals a sequential numpy reference: per cell the
    member count and the mean of 1 - argmax cosine, at 6 dp."""
    import numpy as np

    from kgspark.dataops import kmeans_inertia

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(6).collect()
    ]
    _, x = _np_rows(emb)
    sims = _unit_np(x) @ _unit_np(np.asarray(cents)).T
    cells = np.argmax(sims, axis=1)
    dist = 1.0 - sims.max(axis=1)
    want = {int(c): (int((cells == c).sum()), float(dist[cells == c].mean()))
            for c in np.unique(cells)}
    got = {r["cell"]: r for r in kmeans_inertia(emb, cents).collect()}
    assert set(got) == set(want) and got
    for c, (n, avg) in want.items():
        assert got[c]["n_members"] == n
        assert abs(got[c]["avg_cos_dist"] - avg) <= 1e-6


def test_ivf_assign_with_score_matches_rescoring(spark):
    """with_score=True's best_cos equals the max cosine over all
    centroids (spot-checked against a driver-side recompute)."""
    import math

    from kgspark.dataops import ivf_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(4).collect()
    ]

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return dot / (na * nb)

    rows = ivf_assign(emb, cents, with_score=True).collect()
    assert rows
    for r in rows:
        want = max(cos([float(x) for x in r["embedding"]], c) for c in cents)
        assert abs(r["best_cos"] - want) <= 1e-9, r["vec_id"]


def test_zipf_slope_plan_limits_before_rank(spark):
    """r5 directive 2: the rank window must consume a TakeOrdered top_n
    subset, never the full vocabulary (the r4 single-partition global
    window). In the physical tree the Window is the PARENT of the
    top-k node, so it prints first."""
    from kgspark.dataops import zipf_slope

    docs = spark.createDataFrame(
        [(i, "w%d common words here" % i) for i in range(50)],
        "doc_id long, text string",
    )
    plan = zipf_slope(docs, top_n=5)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" in plan
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_semantic_dedup_cell_cap_bounds_pairs(spark):
    """r5 directive 4: a degenerate giant cell (every vector lands on
    one centroid) is quadratic without the cap; with max_cell_rows the
    pair count drops to the within-sub-cell total, the surviving pairs
    are a subset of the uncapped ones, and the split is deterministic."""
    import numpy as np

    from kgspark.dataops import semantic_dedup_pairs

    rng = np.random.default_rng(11)
    n = 60
    rows = [
        (i, (np.array([1.0, 0.0, 0.0, 0.0])
             + 0.01 * rng.standard_normal(4)).tolist())
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]

    full = {(r["vec_a"], r["vec_b"])
            for r in semantic_dedup_pairs(emb, cents, threshold=0.0).collect()}
    assert len(full) == n * (n - 1) // 2  # one giant cell, all pairs

    capped = {(r["vec_a"], r["vec_b"])
              for r in semantic_dedup_pairs(
                  emb, cents, threshold=0.0, max_cell_rows=10).collect()}
    assert capped < full            # strictly fewer pairs, all genuine
    assert len(capped) < len(full) // 2
    again = {(r["vec_a"], r["vec_b"])
             for r in semantic_dedup_pairs(
                 emb, cents, threshold=0.0, max_cell_rows=10).collect()}
    assert again == capped          # deterministic split

    # a cell under the cap is untouched: cap larger than the cell
    uncapped_small = {(r["vec_a"], r["vec_b"])
                      for r in semantic_dedup_pairs(
                          emb, cents, threshold=0.0,
                          max_cell_rows=n).collect()}
    assert uncapped_small == full


def test_semantic_dedup_id_col_plumbed(spark):
    """ADVICE r4: id_col was dead (ivf_assign hardcodes vec_id). A
    caller table keyed doc_id must work and give the same pairs."""
    from kgspark.dataops import semantic_dedup_pairs

    rows = [
        (0, [1.0, 0.0]), (1, [0.99, 0.1]), (2, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    base = {(r["vec_a"], r["vec_b"], round(r["cosine"], 9))
            for r in semantic_dedup_pairs(emb, cents, threshold=0.8).collect()}
    renamed = emb.withColumnRenamed("vec_id", "doc_id")
    got = {(r["vec_a"], r["vec_b"], round(r["cosine"], 9))
           for r in semantic_dedup_pairs(
               renamed, cents, threshold=0.8, id_col="doc_id").collect()}
    assert got == base and got
