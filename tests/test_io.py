"""TableIO maintenance surface — the engine's O28 analog (reference
clear_all / delete, kg_builder.py:175-187, neo4j_store.py:409-417):
drop, truncate, snapshot expiry, and the append-only read_all path."""

import os

import pytest

from kgspark.io import TableIO


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "x int")


def test_drop_and_clear_all(spark, tmp_path):
    io = TableIO(str(tmp_path / "wh"))
    io.commit("t1", _df(spark, [1, 2]))
    io.commit("t2", _df(spark, [3]))
    assert io.tables() == ["t1", "t2"]
    io.drop("t1")
    assert io.tables() == ["t2"]
    with pytest.raises(FileNotFoundError):
        io.read(spark, "t1")
    io.clear_all()
    assert io.tables() == []
    io.drop("never_existed")  # idempotent


def test_truncate_resets_but_table_survives(spark, tmp_path):
    io = TableIO(str(tmp_path / "wh"))
    io.commit("t", _df(spark, [1]), input_snapshot="corpus_a")
    io.truncate("t")
    assert io.current_snapshot("t") is None
    assert io.find_snapshot("t", "corpus_a") is None  # resume won't match
    with pytest.raises(FileNotFoundError):
        io.read(spark, "t")
    # a fresh commit after truncate works and ids keep advancing
    snap = io.commit("t", _df(spark, [2]))
    assert [r["x"] for r in io.read(spark, "t").collect()] == [2]
    assert snap == "s0000"  # manifest was reset


def test_expire_snapshots_keeps_current_blocks_stale_resume(spark, tmp_path):
    io = TableIO(str(tmp_path / "wh"))
    s0 = io.commit("t", _df(spark, [1]), input_snapshot="in_a")
    s1 = io.commit("t", _df(spark, [2]), input_snapshot="in_b")
    s2 = io.commit("t", _df(spark, [3]), input_snapshot="in_c")
    expired = io.expire_snapshots("t", keep_last=1)
    assert expired == [s0, s1]
    # current snapshot still readable; expired ones are not
    assert [r["x"] for r in io.read(spark, "t").collect()] == [3]
    with pytest.raises(FileNotFoundError):
        io.read(spark, "t", snapshot=s0)
    # resume checks no longer match expired lineage
    assert io.find_snapshot("t", "in_a") is None
    assert io.find_snapshot("t", "in_c") == s2
    # data dirs really gone
    assert not os.path.exists(os.path.join(str(tmp_path / "wh"), "t", s0))
    # idempotent: nothing further to expire
    assert io.expire_snapshots("t", keep_last=1) == []
    # snapshot ids never reused after expiry
    s3 = io.commit("t", _df(spark, [4]))
    assert s3 == "s0003"


class TestIcebergConformance:
    """The exact Iceberg-catalog semantics the engine relies on, one
    test per contract — the documented mapping behind the one-class
    TableIO -> Iceberg swap claim (kgspark/io.py module docstring). On
    a real cluster each contract is provided natively:

      | TableIO behavior              | Iceberg equivalent                  |
      |-------------------------------|-------------------------------------|
      | atomic manifest pointer swap  | atomic metadata-pointer commit      |
      | immutable snapshot + id chain | snapshot log / snapshot-id lineage  |
      | read(snapshot=...) time travel| VERSION AS OF / snapshot-id reads   |
      | partition_by + pruned reads   | hidden partitioning + partition     |
      |                               | pruning from metadata               |
      | input_snapshot resume check   | snapshot summary properties         |
      | expire_snapshots              | expireSnapshots maintenance action  |

    The sandbox has no iceberg-spark-runtime jar (no network), so these
    run against the parquet+manifest shim; the assertions encode what
    the engine ASSUMES of the catalog, so running the same suite
    against a real Iceberg catalog validates the swap."""

    def test_commit_is_atomic_pointer_swap(self, spark, tmp_path):
        """A reader holding the old manifest never sees a half-written
        table: data is fully written BEFORE the pointer moves, and the
        pointer move is a single os.replace (rename) — the same
        all-or-nothing visibility Iceberg's metadata commit gives."""
        io = TableIO(str(tmp_path / "wh"))
        s0 = io.commit("t", _df(spark, [1]))
        # simulate a concurrent reader pinned to the old snapshot
        pinned = io.read(spark, "t", snapshot=s0)
        io.commit("t", _df(spark, [2, 3]))
        # the pinned reader still sees exactly the old data (snapshot
        # files are immutable — never rewritten in place)...
        assert [r["x"] for r in pinned.collect()] == [1]
        # ...while a fresh read follows the swapped pointer
        assert sorted(r["x"] for r in io.read(spark, "t").collect()) == [2, 3]

    def test_snapshot_lineage_is_append_only_and_ordered(self, spark, tmp_path):
        """Snapshot ids are monotone and the lineage (input_snapshot
        edges) is queryable after later commits — Iceberg's snapshot
        log; resume reads the LATEST matching snapshot like Iceberg's
        summary-property lookup."""
        io = TableIO(str(tmp_path / "wh"))
        a = io.commit("t", _df(spark, [1]), input_snapshot="up:v1")
        b = io.commit("t", _df(spark, [2]), input_snapshot="up:v2")
        c = io.commit("t", _df(spark, [3]), input_snapshot="up:v1")
        assert [a, b, c] == ["s0000", "s0001", "s0002"]
        assert io.find_snapshot("t", "up:v1") == c  # latest wins
        assert io.find_snapshot("t", "up:v2") == b
        assert io.current_snapshot("t") == c

    def test_time_travel_reads_any_live_snapshot(self, spark, tmp_path):
        io = TableIO(str(tmp_path / "wh"))
        s0 = io.commit("t", _df(spark, [1]))
        s1 = io.commit("t", _df(spark, [2]))
        assert [r["x"] for r in io.read(spark, "t", snapshot=s0).collect()] == [1]
        assert [r["x"] for r in io.read(spark, "t", snapshot=s1).collect()] == [2]

    def test_partitioned_commit_prunes_reads(self, spark, tmp_path):
        """A filter on the partition column must reach the scan as a
        PartitionFilter reading only the matching directories — the
        property Iceberg provides from partition metadata (and the one
        ivf_query's 100 TB story depends on)."""
        io = TableIO(str(tmp_path / "wh"))
        df = spark.createDataFrame(
            [(i, i % 4) for i in range(40)], "x int, cell int"
        )
        io.commit("t", df, partition_by=["cell"])
        got = io.read(spark, "t").filter("cell = 2")
        assert got.count() == 10
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        files = {
            os.path.dirname(r[0])
            for r in got.selectExpr("input_file_name()").collect()
        }
        assert len(files) == 1 and files.pop().endswith("cell=2")

    def test_metadata_rides_with_snapshot(self, spark, tmp_path):
        """Commit-time metadata (IVF centroids, BM25 corpus scalars) is
        bound to the snapshot id — Iceberg snapshot summary props."""
        io = TableIO(str(tmp_path / "wh"))
        s0 = io.commit("t", _df(spark, [1]), metadata={"k": "v0"})
        io.commit("t", _df(spark, [2]), metadata={"k": "v1"})
        assert io.snapshot_metadata("t", s0) == {"k": "v0"}
        assert io.snapshot_metadata("t") == {"k": "v1"}


def test_read_all_unions_snapshots_skips_expired(spark, tmp_path):
    io = TableIO(str(tmp_path / "wh"))
    io.commit("log", _df(spark, [1]))
    io.commit("log", _df(spark, [2, 3]))
    assert sorted(r["x"] for r in io.read_all(spark, "log").collect()) == [1, 2, 3]
    # read (no snapshot arg) still returns only the current delta
    assert sorted(r["x"] for r in io.read(spark, "log").collect()) == [2, 3]
    io.expire_snapshots("log", keep_last=1)
    assert sorted(r["x"] for r in io.read_all(spark, "log").collect()) == [2, 3]


def test_expire_preserves_accumulated_append_snapshots(spark, tmp_path):
    """Expiry must never destroy live accumulated data: append-mode
    snapshots after the last full commit are part of the table's
    current state, not history."""
    from kgspark.io import TableIO

    io = TableIO(str(tmp_path / "wh_exp"))
    df = lambda i: spark.createDataFrame([(i,)], "v long")  # noqa: E731
    io.commit("t", df(0), "full0")                      # superseded full
    io.commit("t", df(1), "full1")                      # base full
    io.commit("t", df(2), "a1", metadata={"mode": "append"})
    io.commit("t", df(3), "a2", metadata={"mode": "append"})
    expired = io.expire_snapshots("t", keep_last=1)
    assert expired == ["s0000"]                         # only old full
    acc = {r["v"] for r in io.read_accumulated(spark, "t").collect()}
    assert acc == {1, 2, 3}


def test_compact_collapses_appends_and_frees_deltas(spark, tmp_path):
    from kgspark.io import TableIO

    io = TableIO(str(tmp_path / "wh"))
    base = spark.range(0, 100).withColumnRenamed("id", "k")
    io.commit("t", base)
    for lo in (100, 200, 300):
        io.commit(
            "t",
            spark.range(lo, lo + 100).withColumnRenamed("id", "k"),
            metadata={"mode": "append"},
        )
    before = sorted(r["k"] for r in io.read_accumulated(spark, "t").collect())
    assert len(io.accumulated_snapshots("t")) == 4

    snap = io.compact(spark, "t", num_files=2)
    # accumulated state collapses to the compacted snapshot alone
    acc = io.accumulated_snapshots("t")
    assert [s["id"] for s in acc] == [snap]
    after = sorted(r["k"] for r in io.read_accumulated(spark, "t").collect())
    assert after == before == list(range(400))
    # controlled file count
    import glob

    files = glob.glob(f"{acc[0]['path']}/part-*.parquet")
    assert len(files) == 2
    # superseded deltas are now expirable without losing live data
    expired = io.expire_snapshots("t", keep_last=1)
    assert len(expired) == 4
    assert sorted(
        r["k"] for r in io.read_accumulated(spark, "t").collect()
    ) == list(range(400))


def test_file_stats_pruning_with_zorder_layout(spark, tmp_path):
    """End-to-end file skipping: commit a z-ordered table with per-file
    min/max stats; a box predicate must open only the overlapping
    files and return exactly the full-scan filter result."""
    from kgspark.dataops import zorder_layout
    from kgspark.io import TableIO

    io = TableIO(str(tmp_path / "wh"))
    rows = [(float(i % 100), float((i // 100) % 100), i) for i in range(10000)]
    df = spark.createDataFrame(rows, "x double, y double, id long")
    laid = zorder_layout(df, ["x", "y"], bits=6, num_files=16)
    io.commit("t", laid, stats_cols=["x", "y"])

    pruned, n_read, n_total = io.read_pruned(
        spark, "t", {"x": (10.0, 19.0), "y": (10.0, 19.0)}
    )
    assert n_total == 16
    assert n_read < n_total // 2      # the box lives in few z-files
    want = sorted(
        r["id"]
        for r in df.filter(
            (df.x >= 10.0) & (df.x <= 19.0) & (df.y >= 10.0) & (df.y <= 19.0)
        ).collect()
    )
    got = sorted(r["id"] for r in pruned.collect())
    assert got == want and len(got) == 100  # 10x10 box, one row per combo

    # disjoint predicate: zero files opened, empty result, same schema
    empty, n0, _ = io.read_pruned(spark, "t", {"x": (1000.0, 2000.0)})
    assert n0 == 0 and empty.count() == 0
    assert set(empty.columns) == set(pruned.columns)


def test_snapshot_diff_keyed_cdc(spark, tmp_path):
    from kgspark.io import TableIO

    io = TableIO(str(tmp_path / "wh"))
    ddl = "k long, v string, x long"
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ddl
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "CHANGED", 30), (4, "d", 40)], ddl
    )
    s1 = io.commit("t", old)
    s2 = io.commit("t", new)
    got = {
        r["k"]: r["change"]
        for r in io.snapshot_diff(
            spark, "t", s1, s2, keys=["k"]
        ).collect()
    }
    # 1 deleted, 2 unchanged (absent), 3 updated, 4 inserted
    assert got == {1: "delete", 3: "update", 4: "insert"}


def test_snapshot_diff_rowset_mode_multiset(spark, tmp_path):
    from kgspark.io import TableIO

    io = TableIO(str(tmp_path / "wh"))
    ddl = "k long, v string"
    old = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], ddl)
    new = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b")], ddl)
    s1 = io.commit("t", old)
    s2 = io.commit("t", new)
    got = sorted(
        (r["k"], r["v"], r["change"])
        for r in io.snapshot_diff(spark, "t", s1, s2).collect()
    )
    # exceptAll: one surplus (1,a) deleted, one surplus (2,b) inserted
    assert got == [(1, "a", "delete"), (2, "b", "insert")]


def _n1(df):
    return df.filter("id = 1").first()["name"]


class TestMultiTableTransactions:
    def _frames(self, spark, tag):
        nodes = spark.createDataFrame(
            [(1, f"n1_{tag}"), (2, f"n2_{tag}")], "id long, name string"
        )
        edges = spark.createDataFrame(
            [(1, 2, f"rel_{tag}")], "s long, o long, p string"
        )
        return {"tnodes": nodes, "tedges": edges}

    def test_commit_many_reads_consistently(self, spark, tmp_path):
        from kgspark.io import TableIO

        io = TableIO(str(tmp_path / "wh"))
        t1 = io.commit_many(self._frames(spark, "v1"))
        t2 = io.commit_many(self._frames(spark, "v2"))
        # pointers advanced to v2
        assert _n1(io.read(spark, "tnodes")) == "n1_v2"
        # txn reads pin BOTH tables to the same version
        for txn, tag in ((t1, "v1"), (t2, "v2")):
            frames = io.read_txn(spark, txn)
            assert _n1(frames["tnodes"]) == f"n1_{tag}"
            assert frames["tedges"].first()["p"] == f"rel_{tag}"

    def test_crash_before_commit_point_leaves_old_state(
        self, spark, tmp_path, monkeypatch
    ):
        from kgspark.io import TableIO

        io = TableIO(str(tmp_path / "wh"))
        io.commit_many(self._frames(spark, "v1"))

        def boom(*a, **k):
            raise RuntimeError("crash before txn record")

        monkeypatch.setattr(
            "os.replace", boom
        )  # first replace in commit_many IS the commit point...
        # ...but _store_manifest also uses os.replace; patch at the
        # txn-write boundary instead: fail the txn json dump
        monkeypatch.undo()
        monkeypatch.setattr(io, "_txn_path", boom)
        try:
            io.commit_many(self._frames(spark, "v2"))
        except RuntimeError:
            pass
        monkeypatch.undo()
        # both tables still read v1; no mixed state
        assert _n1(io.read(spark, "tnodes")) == "n1_v1"
        assert io.read(spark, "tedges").first()["p"] == "rel_v1"
        assert io.recover_transactions() == []  # nothing to repair

    def test_crash_after_commit_point_is_recovered(
        self, spark, tmp_path, monkeypatch
    ):
        from kgspark.io import TableIO

        io = TableIO(str(tmp_path / "wh"))
        io.commit_many(self._frames(spark, "v1"))

        def no_roll(txn):
            raise RuntimeError("crash after txn record")

        monkeypatch.setattr(io, "_roll_forward", no_roll)
        try:
            io.commit_many(self._frames(spark, "v2"))
        except RuntimeError:
            pass
        monkeypatch.undo()
        # pointers still v1 (partial state), but the txn is committed:
        # read_txn already serves v2 consistently...
        assert _n1(io.read(spark, "tnodes")) == "n1_v1"
        frames = io.read_txn(spark)
        assert _n1(frames["tnodes"]) == "n1_v2"
        assert frames["tedges"].first()["p"] == "rel_v2"
        # ...and recovery completes the pointer roll idempotently
        io2 = TableIO(str(tmp_path / "wh"))
        assert io2.recover_transactions() != []
        assert _n1(io2.read(spark, "tnodes")) == "n1_v2"
        assert io2.read(spark, "tedges").first()["p"] == "rel_v2"
        assert io2.recover_transactions() == []


def test_schema_evolution_across_append_snapshots(spark, tmp_path):
    """Iceberg add-column analog: an appended snapshot may carry a NEW
    column; accumulated reads merge schemas and old rows surface NULL
    instead of the union failing or adopting one file's schema."""
    from kgspark.io import TableIO

    io = TableIO(str(tmp_path / "wh"))
    io.commit("t", spark.createDataFrame([(1, "a")], "k long, v string"))
    io.commit(
        "t",
        spark.createDataFrame(
            [(2, "b", 9.5)], "k long, v string, score double"
        ),
        metadata={"mode": "append"},
    )
    acc = io.read_accumulated(spark, "t")
    assert set(acc.columns) == {"k", "v", "score"}
    rows = {r["k"]: r["score"] for r in acc.collect()}
    assert rows == {1: None, 2: 9.5}
    allr = io.read_all(spark, "t")
    assert set(allr.columns) == {"k", "v", "score"}
