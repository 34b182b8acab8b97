"""Connected-components unit graphs (SURVEY.md §5.2-2): chain, star,
two components, self-loop, no-edges identity."""

import pytest

from kgspark.cc import connected_components

DDL_NAMES = "name string"
DDL_EDGES = "name_a string, name_b string"


def _run(spark, names, edges):
    ndf = spark.createDataFrame([(n,) for n in names], DDL_NAMES)
    edf = spark.createDataFrame(edges, DDL_EDGES) if edges else (
        spark.createDataFrame([], DDL_EDGES)
    )
    return {
        r["name"]: r["canonical_id"]
        for r in connected_components(ndf, edf).collect()
    }


def test_chain(spark):
    got = _run(spark, list("abcde"), [("b", "a"), ("c", "b"), ("d", "c"), ("e", "d")])
    assert got == {x: "a" for x in "abcde"}


def test_star(spark):
    got = _run(spark, list("mabc"), [("m", "a"), ("m", "b"), ("m", "c")])
    assert got == {x: "a" for x in "mabc"}


def test_two_components_and_isolated(spark):
    got = _run(spark, list("abcxyz"), [("a", "b"), ("b", "c"), ("x", "y")])
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "z"}


def test_self_loops_only(spark):
    got = _run(spark, list("pq"), [("p", "p"), ("q", "q")])
    assert got == {"p": "p", "q": "q"}


def test_no_edges_identity(spark):
    got = _run(spark, list("ab"), [])
    assert got == {"a": "a", "b": "b"}


@pytest.mark.parametrize("n", [33])
def test_long_chain_converges(spark, n):
    names = [f"n{i:03d}" for i in range(n)]
    edges = [(names[i], names[i + 1]) for i in range(n - 1)]
    got = _run(spark, names, edges)
    assert set(got.values()) == {"n000"}


def test_1m_nodes_giant_component_skew_safe(spark):
    """10^6 nodes with ONE component holding 50% of them — the worst
    case for the pointer jump: every member's comp collapses onto one
    hot root key, so a naive label-table join would concentrate the
    giant component on a single shuffle task. The fix under test
    (docs/SCALE.md 'Giant-component skew'): the jump map derives from
    DISTINCT labels (map-side combine collapses the hot label before
    the shuffle) and is broadcast when it fits — stats must show the
    broadcast path engaged, convergence in bounded rounds, and the
    exact component membership."""
    from pyspark.sql import functions as F

    n = 1_000_000
    half = n // 2
    names = spark.range(n).select(
        F.format_string("n%07d", F.col("id")).alias("name")
    )
    # ids [0, half): each non-leader links to its 1000-block leader;
    # each block leader links to n0000000 -> one 500k-member component
    members = spark.range(half).filter((F.col("id") % 1000) != 0).select(
        F.format_string("n%07d", F.col("id")).alias("name_a"),
        F.format_string(
            "n%07d", F.col("id") - (F.col("id") % 1000)
        ).alias("name_b"),
    )
    leaders = spark.range(1, half // 1000).select(
        F.format_string("n%07d", F.col("id") * 1000).alias("name_a"),
        F.lit("n0000000").alias("name_b"),
    )
    stats: dict = {}
    comp = connected_components(
        names, members.unionByName(leaders), stats=stats
    )
    giant = comp.filter(F.col("canonical_id") == "n0000000").count()
    assert giant == half
    singletons = comp.filter(
        F.col("canonical_id") == F.col("name")
    ).count()
    assert singletons == (n - half) + 1  # isolated tail + the root itself
    assert stats["rounds"] <= 6, stats
    assert stats["jump_broadcast_rounds"] >= 1, stats


def test_100k_nodes_round_count_logarithmic(spark):
    """Cluster-shaped evidence for the docs/SCALE.md claim: 10^5 nodes
    with a diameter-1024 chain + 10k 8-node stars + isolated tail must
    converge in O(log2 diameter) rounds (pointer jumping), not
    O(diameter). Bound: ceil(log2(1024)) + 4 margin = 14 rounds."""
    from pyspark.sql import functions as F

    chain_n, star_k, stars = 1024, 8, 10_000
    n_total = 100_000
    names = spark.range(n_total).select(
        F.format_string("n%06d", F.col("id")).alias("name")
    )
    chain = spark.range(chain_n - 1).select(
        F.format_string("n%06d", F.col("id")).alias("name_a"),
        F.format_string("n%06d", F.col("id") + 1).alias("name_b"),
    )
    # stars occupy ids [chain_n, chain_n + stars*star_k)
    star_edges = spark.range(stars * (star_k - 1)).select(
        (F.col("id") / (star_k - 1)).cast("long").alias("hub"),
        (F.col("id") % (star_k - 1)).alias("spoke"),
    ).select(
        F.format_string(
            "n%06d", F.lit(chain_n) + F.col("hub") * star_k
        ).alias("name_a"),
        F.format_string(
            "n%06d", F.lit(chain_n) + F.col("hub") * star_k + F.col("spoke") + 1
        ).alias("name_b"),
    )
    stats: dict = {}
    comp = connected_components(
        names, chain.unionByName(star_edges), stats=stats
    )
    agg = comp.groupBy("canonical_id").count()
    sizes = {r["count"]: 0 for r in agg.collect()}
    for r in agg.collect():
        sizes[r["count"]] = sizes.get(r["count"], 0) + 1
    n_components = agg.count()
    # 1 chain + 10k stars + (100k - 1024 - 80k) isolated
    isolated = n_total - chain_n - stars * star_k
    assert n_components == 1 + stars + isolated
    # chain collapsed to its min label in logarithmic rounds
    assert stats["rounds"] <= 14, stats
    chain_label = comp.filter(F.col("name") == f"n{chain_n - 1:06d}").first()
    assert chain_label["canonical_id"] == "n000000"


def _py_pagerank(edges, d=0.85, iters=10):
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dangling = sum(r for v, r in rank.items() if v not in out)
        contrib = {v: 0.0 for v in nodes}
        for s, t in edges:
            contrib[t] += rank[s] / out[s]
        rank = {
            v: (1 - d) / n + d * (contrib[v] + dangling / n) for v in nodes
        }
    return rank


def test_pagerank_ring_uniform(spark):
    from kgspark.cc import pagerank

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    got = {r["node"]: r["rank"] for r in pagerank(e).collect()}
    for v in "abc":
        assert got[v] == pytest.approx(1 / 3, abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_matches_reference_with_dangling(spark):
    from kgspark.cc import pagerank

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("d", "a")]  # c dangles
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(e).collect()}
    want = _py_pagerank(edges)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # the hub pointed to by everything outranks its sources
    assert got["c"] > got["b"] > got["d"]


# ---------------------------------------------------------------------------
# triangle counting
# ---------------------------------------------------------------------------


def _brute_triangles(edges):
    from itertools import combinations

    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    count = 0
    for trio in combinations(sorted(adj), 3):
        a, b, c = trio
        if b in adj[a] and c in adj[a] and c in adj[b]:
            count += 1
    return count


def test_triangle_count_vs_brute_force(spark):
    from kgspark.cc import triangle_count

    # deterministic pseudo-random graph with dup edges, both
    # directions, and self-loops
    edges = [((i * 7) % 20, (i * 13 + 3) % 20) for i in range(120)]
    edges += [(b, a) for a, b in edges[:30]] + [(4, 4), (7, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    row = triangle_count(df).collect()[0]
    assert row["n_triangles"] == _brute_triangles(edges)
    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    assert row["n_edges"] == len(canon)


def test_triangle_count_star_has_none(spark):
    from kgspark.cc import triangle_count

    df = spark.createDataFrame(
        [(0, i) for i in range(1, 8)], "src long, dst long"
    )
    row = triangle_count(df).collect()[0]
    assert row["n_triangles"] == 0 and row["n_nodes"] == 8


# ---------------------------------------------------------------------------
# label propagation communities
# ---------------------------------------------------------------------------


def test_label_propagation_separates_cliques(spark):
    from kgspark.cc import label_propagation

    def clique(ids):
        return [(a, b) for a in ids for b in ids if a < b]

    edges = clique([0, 1, 2, 3]) + clique([10, 11, 12, 13]) + [(3, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["label"] for r in label_propagation(df, 10).collect()}
    a_labels = {got[n] for n in (0, 1, 2)}
    b_labels = {got[n] for n in (11, 12, 13)}
    assert len(a_labels) == 1 and len(b_labels) == 1
    assert a_labels != b_labels


def test_label_propagation_deterministic(spark):
    from kgspark.cc import label_propagation

    edges = [((i * 3) % 17, (i * 7 + 1) % 17) for i in range(40)]
    df = spark.createDataFrame(edges, "src long, dst long")
    r1 = sorted(map(tuple, label_propagation(df, 5).collect()))
    r2 = sorted(map(tuple, label_propagation(df.repartition(7), 5).collect()))
    assert r1 == r2


# ---------------------------------------------------------------------------
# personalized PageRank
# ---------------------------------------------------------------------------


def _ppr_reference(edges, sources, d=0.85, iters=10):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    out = {}
    for a, b in edges:
        out.setdefault(a, []).append(b)
    t = {n: (1.0 / len(sources) if n in sources else 0.0) for n in nodes}
    rank = dict(t)
    for _ in range(iters):
        dangling = sum(rank[n] for n in nodes if n not in out)
        contrib = {n: 0.0 for n in nodes}
        for a, targets in out.items():
            for b in targets:
                contrib[b] += rank[a] / len(targets)
        rank = {
            n: (1 - d) * t[n] + d * (contrib[n] + dangling * t[n])
            for n in nodes
        }
    return rank


def test_personalized_pagerank_matches_reference(spark):
    from kgspark.cc import personalized_pagerank

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (5, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, [0], iterations=10).collect()
    }
    want = _ppr_reference(edges, {0})
    assert set(got) == set(want)
    for n in want:
        assert abs(got[n] - want[n]) < 1e-12
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_personalized_pagerank_all_sources_is_pagerank(spark):
    """Teleporting uniformly to every node is global PageRank: one
    power iteration serves both, dangling mass included."""
    from kgspark.cc import pagerank, personalized_pagerank

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("d", "a")]  # c dangles
    e = spark.createDataFrame(edges, "src string, dst string")
    pr = {r["node"]: r["rank"] for r in pagerank(e).collect()}
    ppr = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(e, list("abcd")).collect()
    }
    assert set(ppr) == set(pr)
    for v in pr:
        assert abs(ppr[v] - pr[v]) < 1e-12


def test_personalized_pagerank_localizes_mass(spark):
    from kgspark.cc import personalized_pagerank

    # two rings joined by one edge: mass should stay near the seeded ring
    ring_a = [(i, (i + 1) % 5) for i in range(5)]
    ring_b = [(10 + i, 10 + (i + 1) % 5) for i in range(5)]
    df = spark.createDataFrame(ring_a + ring_b + [(4, 10)], "src long, dst long")
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, [0], iterations=15).collect()
    }
    assert sum(got[n] for n in range(5)) > sum(got[n] for n in range(10, 15))


def test_adamic_adar_hand_computed(spark):
    # path graph 1-2-3-4: candidates are (1,3) via neighbor 2 and
    # (2,4) via neighbor 3; both shared neighbors have degree 2, so
    # both pairs score exactly 1/ln(2). (1,4) shares no neighbor. The
    # self-loop and the reversed duplicate canonicalize away.
    from kgspark.cc import adamic_adar

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (3, 3), (2, 1)], "src long, dst long"
    )
    got = {
        (r["src"], r["dst"]): (r["n_common"], r["aa_score"])
        for r in adamic_adar(e, k=10).collect()
    }
    import math

    w = round(1.0 / math.log(2.0), 6)
    assert got == {(1, 3): (1, w), (2, 4): (1, w)}


def test_adamic_adar_excludes_existing_edges_and_caps_hubs(spark):
    from kgspark.cc import adamic_adar

    # star: hub 0 connected to 1..5 -> every leaf pair is a candidate
    star = [(0, i) for i in range(1, 6)]
    e = spark.createDataFrame(star, "src long, dst long")
    got = adamic_adar(e, k=100).collect()
    assert len(got) == 10  # C(5,2) leaf pairs, none adjacent
    # hub cap below deg(0)=5 removes every wedge
    assert adamic_adar(e, max_deg=4, k=100).count() == 0
    # adjacent pair never appears even with a shared neighbor
    e2 = spark.createDataFrame(
        star + [(1, 2)], "src long, dst long"
    )
    pairs = {
        (r["src"], r["dst"]) for r in adamic_adar(e2, k=100).collect()
    }
    assert (1, 2) not in pairs


def test_adamic_adar_degree_table_not_hint_broadcast(spark):
    """Round-4 scale fix (VERDICT r3 item 2): the degree table is one
    row per NODE — at 10^9 nodes a forced broadcast ships multi-GB to
    the driver and every executor regardless of max_deg (the cap drops
    the few hub rows, not the bulk). The join must stay a plain
    equi-join with NO user hint; AQE is free to broadcast at runtime
    when the post-filter stats actually fit. Pinned on the analyzed
    logical plan: a user F.broadcast() shows up as ResolvedHint there
    (runtime AQE decisions never do)."""
    from kgspark.cc import adamic_adar

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "src long, dst long"
    )
    df = adamic_adar(e, max_deg=64, k=10)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    assert "UnresolvedHint" not in analyzed
    # and the fix changed the plan only, not the answers
    assert df.count() > 0


def test_degree_histogram_hand_computed(spark):
    """Star 0-(1..5) plus edge 1-2: deg(0)=5 -> bucket 2; deg(1)=
    deg(2)=2 -> bucket 1; deg(3..5)=1 -> bucket 0."""
    from kgspark.cc import degree_histogram

    e = spark.createDataFrame(
        [(0, i) for i in range(1, 6)] + [(1, 2), (2, 1)],  # dup collapses
        "src long, dst long",
    )
    got = {
        r["bucket"]: (r["n_nodes"], r["min_deg"], r["max_deg"])
        for r in degree_histogram(e).collect()
    }
    assert got == {0: (3, 1, 1), 1: (2, 2, 2), 2: (1, 5, 5)}


def test_negative_edges_are_nonedges_and_deterministic(spark):
    from kgspark.cc import negative_edges

    ring = [(i, (i + 1) % 12) for i in range(12)]  # 54 non-edges exist
    # a self-loop and a reversed duplicate canonicalize away
    e = spark.createDataFrame(ring + [(5, 5), (1, 0)], "src long, dst long")
    got = negative_edges(e, k=10, n_buckets=4).collect()
    assert len(got) == 10
    edges = {(min(a, b), max(a, b)) for a, b in ring}
    pairs = {(r["src"], r["dst"]) for r in got}
    assert all(a < b for a, b in pairs)
    assert not (pairs & edges)
    again = {
        (r["src"], r["dst"])
        for r in negative_edges(e, k=10, n_buckets=4).collect()
    }
    assert again == pairs
    plain = spark.createDataFrame(ring, "src long, dst long")
    assert {
        (r["src"], r["dst"])
        for r in negative_edges(plain, k=10, n_buckets=4).collect()
    } == pairs


def test_pagerank_return_prev_matches_separate_run(spark):
    """return_prev carries the penultimate iterate out of one run; it
    must equal an independent (iterations-1) run node-for-node, and
    the rank column must be unchanged by the option."""
    from kgspark.cc import pagerank

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("d", "a")]
    e = spark.createDataFrame(edges, "src string, dst string")
    both = pagerank(e, iterations=6, return_prev=True).collect()
    cur = {r["node"]: r["rank"]
           for r in pagerank(e, iterations=6).collect()}
    prev = {r["node"]: r["rank"]
            for r in pagerank(e, iterations=5).collect()}
    assert len(both) == len(cur)
    for r in both:
        assert r["rank"] == pytest.approx(cur[r["node"]], abs=1e-12)
        assert r["rank_prev"] == pytest.approx(prev[r["node"]], abs=1e-12)
