"""Connected-components canonicalization (S6).

Iterative min-label propagation expressed as DataFrame hash joins —
the standard large-graph CC shape (alternating join + min-aggregate),
bounded by O(log n) rounds on path graphs and O(diameter) in general.

Scale notes (SURVEY.md §4.2-1):
  * `localCheckpoint(eager=True)` every iteration truncates lineage so
    the plan doesn't grow unboundedly (iterative DataFrame jobs otherwise
    re-derive the entire history each round).
  * convergence is a `count()` of changed labels per round; iterations
    are additionally capped.
  * With exact-name-only similarity edges the edge list contains only
    self-pairs, the loop converges immediately, and canonical_id == name
    — reproducing the reference's exact-name MERGE semantics 1:1
    (neo4j_store.py:90), which is what the P/R gate runs under.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(
    names: DataFrame,
    sim_edges: DataFrame,
    max_iter: int = 25,
    stats: dict | None = None,
    jump_broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """names(name) + sim_edges(name_a, name_b) -> canonical(name, canonical_id).

    canonical_id is the lexicographic minimum name of the component —
    deterministic under any parallelism / cluster size.

    When `stats` is passed, records {"rounds": n} — the number of
    propagate+jump rounds until convergence (the scale invariant the
    pointer-jumping step buys: O(log diameter), not O(diameter)) — and
    {"jump_broadcast_rounds": m}, the rounds whose pointer jump ran as
    a broadcast join (see below).

    Giant-component skew: a naive pointer jump joins every node's
    `comp` against the full label table — once a component collapses
    toward its root, EVERY member probes that one hot key, so a
    billion-row component concentrates on a single shuffle task. Here
    the jump map is derived from the DISTINCT labels first (distinct
    has map-side partial aggregation, so each input partition emits a
    hot label once — the giant component collapses before the shuffle),
    and when that map holds <= jump_broadcast_rows rows it is broadcast
    — no shuffle keyed on the hot root at all. Above the threshold the
    jump falls back to a shuffle join with AQE skew-split as backstop.
    """
    # undirected: propagate both ways
    edges = (
        sim_edges.select(
            F.col("name_a").alias("src"), F.col("name_b").alias("dst")
        )
        .union(
            sim_edges.select(
                F.col("name_b").alias("src"), F.col("name_a").alias("dst")
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    labels = names.select(
        F.col("name"), F.col("name").alias("comp")
    ).localCheckpoint(eager=True)

    if edges.isEmpty():
        if stats is not None:
            stats["rounds"] = 0
            stats["jump_broadcast_rounds"] = 0
        return labels.select("name", F.col("comp").alias("canonical_id"))

    edges = edges.localCheckpoint(eager=True)

    rounds = 0
    jump_broadcast_rounds = 0
    for _ in range(max_iter):
        # (1) neighbor-min propagation
        neighbor_min = (
            edges.join(labels, edges["src"] == labels["name"])
            .groupBy(F.col("dst").alias("name2"))
            .agg(F.min("comp").alias("nmin"))
        )
        stepped = (
            labels.join(
                neighbor_min, labels["name"] == neighbor_min["name2"], "left"
            )
            .select(
                "name",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))
                ).alias("comp"),
                F.col("comp").alias("old_comp"),
            )
        )
        # (2) pointer jump (path compression): comp <- comp(comp).
        # Turns O(diameter) rounds into O(log diameter) — the reason a
        # billion-node similarity graph converges in ~a dozen rounds.
        # The comp->comp(comp) map is built over DISTINCT labels (map-
        # side combine collapses giant components' hot label before the
        # shuffle) and broadcast when it fits, so no stage joins the
        # full node table on a skewed key.
        stepped = stepped.localCheckpoint(eager=True)
        parent = stepped.select(
            F.col("name").alias("__pname"), F.col("comp").alias("__pcomp")
        )
        distinct_comps = stepped.select("comp").distinct()
        jump_map = (
            distinct_comps.join(
                parent, distinct_comps["comp"] == parent["__pname"], "left"
            )
            .select(
                "comp",
                F.coalesce(F.col("__pcomp"), F.col("comp")).alias("__jcomp"),
            )
            .localCheckpoint(eager=True)
        )
        if jump_map.count() <= jump_broadcast_rows:
            jump_map = F.broadcast(jump_map)
            jump_broadcast_rounds += 1
        new_labels = (
            stepped.join(jump_map, "comp", "left")
            .select(
                "name",
                F.least(
                    F.col("comp"), F.coalesce(F.col("__jcomp"), F.col("comp"))
                ).alias("comp"),
                "old_comp",
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("comp") != F.col("old_comp")).count()
        labels = new_labels.select("name", "comp")
        rounds += 1
        if changed == 0:
            break

    if stats is not None:
        stats["rounds"] = rounds
        stats["jump_broadcast_rounds"] = jump_broadcast_rounds
    return labels.select("name", F.col("comp").alias("canonical_id"))


def _undirected(edges: DataFrame) -> DataFrame:
    """(src, dst) -> distinct undirected (a, b) rows with a < b and no
    self-loops: the one canonical edge set of the undirected ops."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )


def _power_iteration(
    e: DataFrame, nodes: DataFrame, damping: float, iterations: int
) -> tuple[DataFrame, DataFrame]:
    """Damped power iteration with teleport vector t over e(src, dst)
    and a checkpointed nodes(node, t) frame: rank = (1-d)*t +
    d*(in-contributions + dangling_mass*t), starting from rank = t.
    Ranks sum to 1 every iteration.

    Every round is one join (on src) + one hash agg (on dst) with
    `localCheckpoint(eager=True)` truncating lineage, so the plan stays
    O(1) per round. The scalar dangling mass stays in the plan as a
    broadcast 1-row cross join, so each round is exactly one job (the
    eager checkpoint) and zero driver actions; the teleport column
    rides on the node table, so personalization adds no shuffle. Hot
    (high-in-degree) nodes concentrate only their agg key, which
    partial aggregation absorbs map-side.

    Returns (ranks, prev): the final and the penultimate iterate, both
    (node, rank). Every iterate is already a checkpointed frame, so
    holding the previous one is a reference, not extra compute."""
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    ranks = nodes.select("node", "t", F.col("t").alias("rank"))
    prev = ranks
    for _ in range(iterations):
        prev = ranks
        with_deg = ranks.join(
            outdeg, ranks["node"] == outdeg["src"], "left"
        ).select("node", "rank", "outdeg")
        dangling = with_deg.filter(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dangling")
        )
        contribs = (
            e.join(with_deg, e["src"] == with_deg["node"])
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "t",
                (
                    F.lit(1.0 - damping) * F.col("t")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("__dangling") * F.col("t")
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", "rank"), prev.select("node", "rank")


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    return_prev: bool = False,
) -> DataFrame:
    """Distributed PageRank over a (src, dst) edge frame — the
    companion graph-analytics op to connected_components: the
    power iteration of `_power_iteration` with the uniform teleport
    vector t = 1/N, i.e. standard damped PageRank with dangling-mass
    redistribution, rank(v) = (1-d)/N + d*(sum of rank(u)/outdeg(u)
    over in-neighbours u + dangling_mass/N). Fixed iteration count.

    With `return_prev=True` the result carries a `rank_prev` column —
    the penultimate iterate — so a caller can read the convergence
    delta from ONE run instead of re-running the whole iteration at
    k-1.
    """
    e = edges.select("src", "dst")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        out = nodes.withColumn("rank", F.lit(0.0))
        return (
            out.withColumn("rank_prev", F.col("rank"))
            if return_prev else out
        )
    ranks, prev = _power_iteration(
        e, nodes.withColumn("t", F.lit(1.0 / n)), damping, iterations
    )
    if return_prev:
        # both frames are checkpointed and keyed by the same `nodes`
        # set, so this is one equi-join on identical key domains
        return ranks.join(prev.withColumnRenamed("rank", "rank_prev"), "node")
    return ranks


def co_order_pairs(lineitem: DataFrame) -> DataFrame:
    """Co-occurrence edge list: two parts appearing in the same order
    (src < dst). Shared by the part_triangles driver query and the
    bench graph_mining segment so the benchmarked plan IS the
    oracle-checked plan. Shuffles once on orderkey; per-order fanout
    is C(items, 2), bounded by order size — never all-pairs over
    parts."""
    lp = lineitem.select("l_orderkey", "l_partkey").distinct()
    a, b = lp.alias("a"), lp.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.l_orderkey") == F.col("b.l_orderkey"),
                F.col("a.l_partkey") < F.col("b.l_partkey"),
            ],
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Distributed triangle counting over an undirected edge list —
    the third classic graph-analytics op next to connected_components
    and pagerank (clustering-coefficient numerator, community-density
    signal over the constructed KG).

    Input (src, dst) edges are canonicalized by `_undirected`. Each
    edge is then oriented from its lower-(degree, id) endpoint to the
    higher one, so every node's out-degree is O(sqrt(|E|)) — the
    standard bound that caps the per-node fanout even on power-law
    graphs, where id-ordering would let one hub generate O(deg^2)
    wedges.

    Counting is edge-iterator: build per-node sorted out-adjacency
    arrays, join each oriented edge to its endpoints' arrays, count =
    sum of |N+(lo) & N+(hi)| via one JVM array_intersect per edge.
    Shuffle volume is O(|E|) rows (plus the two array joins), never
    the wedge set (~72M rows vs |E|=1.2M on the sf0.1 co-order
    graph). The count is orientation-invariant, so the DuckDB oracle
    verifies it with plain a<b<c SQL.

    Returns one row: (n_nodes, n_edges, n_triangles).
    """
    und = _undirected(edges).localCheckpoint(eager=True)
    n_edges = und.count()
    nodes = und.select(F.col("a").alias("v")).union(
        und.select(F.col("b").alias("v"))
    ).distinct()
    n_nodes = nodes.count()
    deg = (
        und.select(F.col("a").alias("v"))
        .union(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("degb"))
    keyed = und.join(da, "a").join(db, "b")
    fwd = F.struct("dega", "a") < F.struct("degb", "b")
    oriented = keyed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("hi"),
    ).localCheckpoint(eager=True)
    # tri({a<b<c}) is counted exactly once, on its apex edge (a,b), as
    # |N+(a) & N+(b)| — the closing sink c is an out-neighbor of both;
    # the other two edges of the triangle contribute nothing (c has no
    # out-edge into the triangle).
    adj = oriented.groupBy(F.col("lo").alias("v")).agg(
        F.sort_array(F.collect_list("hi")).alias("nbrs")
    )
    au = adj.select(F.col("v").alias("lo"), F.col("nbrs").alias("nu"))
    av = adj.select(F.col("v").alias("hi"), F.col("nbrs").alias("nv"))
    tri = (
        oriented.join(au, "lo")
        .join(av, "hi")
        .select(F.size(F.array_intersect("nu", "nv")).alias("c"))
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("t"))
        .first()["t"]
    )
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(int(n_nodes), int(n_edges), int(tri))],
        "n_nodes bigint, n_edges bigint, n_triangles bigint",
    )


def label_propagation(edges: DataFrame, iterations: int = 10) -> DataFrame:
    """Synchronous label-propagation community detection — the
    lightweight communities op completing the graph-analytics set
    (connected_components finds REACHABILITY; LPA finds DENSITY
    clusters inside one component). Deterministic by construction so
    results are reproducible across runs/cluster sizes:

      * labels start as node ids;
      * every round each node adopts the most frequent label among
        itself + neighbors (self-vote damps the classic synchronous
        two-coloring oscillation), ties broken by SMALLEST label;
      * fixed iteration count, `localCheckpoint` per round (same
        iterative discipline as connected_components/pagerank).

    Per round: one join (neighbor label lookup, shuffles on node) and
    two hash aggs ((node, label) counts -> per-node argmax) — all
    partial-aggregated map-side; a hot node concentrates only its agg
    key, which map-side combine absorbs.

    Returns (node, label); nodes sharing a label form a community.
    """
    # repeated edges are repeated votes, so no _undirected dedup here
    e = edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).filter(
        F.col("a") != F.col("b")
    )
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    nodes = und.select(F.col("a").alias("node")).distinct()
    und = und.localCheckpoint(eager=True)
    labels = nodes.withColumn("label", F.col("node"))
    for _ in range(iterations):
        neighbor_votes = und.join(
            labels.select(
                F.col("node").alias("b"), F.col("label").alias("nl")
            ),
            "b",
        ).select(F.col("a").alias("node"), F.col("nl").alias("label"))
        votes = neighbor_votes.union(labels.select("node", "label"))
        counted = votes.groupBy("node", "label").agg(
            F.count("*").alias("cnt")
        )
        # argmax with (cnt desc, label asc) tie-break, label-type-
        # agnostic (KG labels are entity-name strings). Three
        # exchanges per round: the neighbor join on b, the vote agg on
        # (node, label), and this window on node (hash([node, label])
        # does not satisfy a [node] clustering, so the window
        # re-shuffles) — all over small (node, label) rows, never text.
        from pyspark.sql import Window  # noqa: PLC0415

        w = Window.partitionBy("node")
        labels = (
            counted.withColumn("__bc", F.max("cnt").over(w))
            .filter(F.col("cnt") == F.col("__bc"))
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels


def personalized_pagerank(
    edges: DataFrame,
    sources: list,
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """Personalized PageRank over a (src, dst) edge frame: random walks
    restart at the SOURCE set instead of uniformly — 'importance
    relative to these entities', the principled ranking behind a KG's
    "related to X" surface (the k-hop traversal returns the
    neighborhood; PPR orders it).

    The power iteration of `_power_iteration` with teleport vector
    t = 1/|S| on sources, 0 elsewhere. Returns (node, rank).
    """
    e = edges.select("src", "dst")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    s = float(len(set(sources)))
    if s == 0:
        raise ValueError("sources must be non-empty")
    spark = edges.sparkSession
    src_df = spark.createDataFrame(
        [(x,) for x in sorted(set(sources))], nodes.schema
    ).withColumn("t", F.lit(1.0 / s))
    nodes = (
        nodes.join(F.broadcast(src_df), "node", "left")
        .select("node", F.coalesce("t", F.lit(0.0)).alias("t"))
        .localCheckpoint(eager=True)
    )
    return _power_iteration(e, nodes, damping, iterations)[0]


def adamic_adar(
    edges: DataFrame, max_deg: int | None = None, k: int = 20
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected edge list: for
    every non-adjacent pair (a, b), score = sum over common neighbors
    n of 1/ln(deg(n)) — the classic common-neighbor index that
    down-weights promiscuous hubs. Fourth graph-analytics op next to
    connected_components / pagerank / triangle_count (entity-pair
    suggestion over the constructed KG, co-purchase prediction over
    the order graph).

    Scale shape: (src, dst) edges canonicalize once (`_undirected`);
    the neighbor table self-joins on the SHARED NEIGHBOR — so fanout
    is sum(deg(n)^2), the wedge count, never all-pairs over nodes. `max_deg` caps hub
    fanout (on power-law graphs one celebrity node otherwise emits
    deg^2 wedges; its per-wedge contribution 1/ln(deg) is the
    smallest anyway, so the cap trims the noisiest, cheapest signal —
    the standard mitigation). The degree table is O(nodes), so it is
    deliberately NOT hinted for broadcast — at 10^9 nodes a forced
    broadcast ships multi-GB to the driver and every executor
    regardless of max_deg (the cap drops the *few* hub rows, not the
    bulk); it joins on the shared-neighbor key as a plain equi-join
    and AQE picks a broadcast at runtime only when the post-filter
    stats actually fit (tests/test_cc.py pins the no-hint plan).
    Candidate scoring is one map-side-combinable agg;
    existing edges leave via a left_anti join; top-k is
    TakeOrderedAndProject on the ROUNDED score (6 dp) with (a, b)
    tie-break so the cut is engine-deterministic.

    Returns k rows: (src, dst, n_common, aa_score), src < dst.
    """
    und = _undirected(edges).localCheckpoint(eager=True)
    nbr = und.select(F.col("a").alias("v"), F.col("b").alias("n")).union(
        und.select(F.col("b").alias("v"), F.col("a").alias("n"))
    )
    deg = nbr.groupBy(F.col("n").alias("hub")).agg(
        F.count("*").alias("deg")
    )
    if max_deg is not None:
        deg = deg.filter(F.col("deg") <= max_deg)
    # attach the degree of the shared neighbor, dropping capped hubs
    # BEFORE the wedge self-join so their fanout never materializes.
    # No broadcast hint: deg is O(nodes); AQE chooses broadcast only
    # when its runtime size fits spark.sql.autoBroadcastJoinThreshold.
    nd = nbr.join(deg, nbr["n"] == deg["hub"]).select("v", "n", "deg")
    x, y = nd.alias("x"), nd.alias("y")
    wedges = x.join(
        y,
        (F.col("x.n") == F.col("y.n")) & (F.col("x.v") < F.col("y.v")),
    ).select(
        F.col("x.v").alias("a"),
        F.col("y.v").alias("b"),
        (F.lit(1.0) / F.log(F.col("x.deg"))).alias("w"),
    )
    cand = wedges.groupBy("a", "b").agg(
        F.count("*").cast("bigint").alias("n_common"),
        F.sum("w").alias("aa"),
    )
    fresh = cand.join(und, ["a", "b"], "left_anti")
    return (
        fresh.select(
            F.col("a").alias("src"),
            F.col("b").alias("dst"),
            "n_common",
            F.round("aa", 6).alias("aa_score"),
        )
        .orderBy(F.col("aa_score").desc(), "src", "dst")
        .limit(k)
    )


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Log2-bucketed degree distribution of an undirected graph — the
    power-law diagnostic behind every skew decision in this engine
    (hub caps, salting thresholds, AQE skew-join expectations): bucket
    b holds nodes with degree in [2^b, 2^(b+1)).

    One `_undirected` pass over (src, dst) edges + one degree agg + one
    tiny bucket agg — all map-side-combinable; output is O(log
    max_degree) rows."""
    und = _undirected(edges)
    nbr = und.select(F.col("a").alias("v")).union(
        und.select(F.col("b").alias("v"))
    )
    deg = nbr.groupBy("v").agg(F.count("*").alias("deg"))
    return (
        deg.groupBy(
            F.floor(F.log2("deg")).cast("int").alias("bucket")
        )
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.min("deg").cast("long").alias("min_deg"),
            F.max("deg").cast("long").alias("max_deg"),
        )
        .orderBy("bucket")
    )


def negative_edges(
    edges: DataFrame, k: int = 50, n_buckets: int = 64
) -> DataFrame:
    """Deterministic negative sampling for link-prediction / embedding
    training: k node pairs that are NOT edges, drawn reproducibly (no
    rand()) so the same negatives pair with the same positives on
    every engine, run, and cluster size.

    Candidate generation is HASH-BUCKET-blocked, never all-pairs:
    bucket(v) = md5-hash(v) mod n_buckets, candidates are same-bucket
    pairs (a < b) — fanout sum(n_bucket^2) = n^2/n_buckets in
    expectation, tunable to the negative budget (at 10^9 nodes you
    raise n_buckets so a bucket holds ~sqrt(k) nodes). Existing edges
    leave via left_anti on the canonicalized edge set; the final k is
    a TakeOrderedAndProject on md5(a||b) — an unbiased-within-block,
    auditable draw."""
    from .dataops import md5_hash60  # noqa: PLC0415

    und = _undirected(edges)
    nodes = (
        und.select(F.col("a").alias("v"))
        .union(und.select(F.col("b").alias("v")))
        .distinct()
        .withColumn(
            "bucket",
            F.pmod(md5_hash60(F.col("v")), F.lit(n_buckets)),
        )
    )
    x = nodes.select("bucket", F.col("v").alias("a"))
    y = nodes.select("bucket", F.col("v").alias("b"))
    cand = (
        x.join(y, "bucket")
        .filter(F.col("a") < F.col("b"))
        .join(und, ["a", "b"], "left_anti")
    )
    pick = F.md5(
        F.concat(F.col("a").cast("string"), F.lit("|"),
                 F.col("b").cast("string"))
    )
    return (
        cand.select(
            F.col("a").alias("src"), F.col("b").alias("dst"),
            pick.alias("draw_key"),
        )
        .orderBy("draw_key")
        .limit(k)
    )
