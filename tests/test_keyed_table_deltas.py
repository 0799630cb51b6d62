"""Merge-on-read KeyedTable: an upsert onto a committed base commits one
delta file (the base's files carried over by hardlink), reads merge the
base with the deltas, the gateway folds new deltas into its in-memory
copy, and pending deltas fold into a new base past ``MAX_DELTAS``."""

from __future__ import annotations

import os

import pytest

from affinity_spark.serving import ServingGateway
from affinity_spark.sources import keyed_table
from affinity_spark.sources.keyed_table import KeyedTable

DDL = "k long, ts long, v long"
DEAD_DDL = "k long, ts long, v long, dead boolean"


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select("k", "ts", "v").collect())


def _gw_rows(gw) -> list[tuple]:
    return sorted((r["k"], r["ts"], r["v"]) for r in gw.prefix_range({}))


def _table(spark, tmp_path, **kw) -> KeyedTable:
    t = KeyedTable(spark, str(tmp_path / "t"), ["k"], "ts", num_buckets=4, **kw)
    t.overwrite(spark.createDataFrame([(i, 10, i) for i in range(8)], DDL))
    return t


def _model(*batches) -> list[tuple]:
    """Last write wins by ts, a later batch winning an equal ts."""
    state: dict[int, tuple] = {}
    for batch in batches:
        for k, ts, v in batch:
            if k not in state or ts >= state[k][0]:
                state[k] = (ts, v)
    return sorted((k, ts, v) for k, (ts, v) in state.items())


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, "")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_upsert_commits_a_delta_and_links_the_base(spark, tmp_path):
    t = _table(spark, tmp_path, retain_versions=4)
    before = t.snapshot()
    assert before.base and before.deltas == ()
    b1 = [(1, 20, 100), (9, 5, 900)]
    b2 = [(1, 15, 101), (2, 10, 200)]  # k=1 older: loses; k=2 equal ts: wins
    # equal ts again: the latest delta wins the tie, though its file is
    # the larger, which Spark's scan reads first
    b3 = [(2, 10, 201)] + [(k, 1, k) for k in range(100, 160)]
    for b in (b1, b2, b3):
        t.upsert(spark.createDataFrame(b, DDL))
    snap = t.snapshot()
    assert snap.base == before.base and len(snap.deltas) == 3
    assert [d.split(os.sep)[1] for d in snap.deltas] == ["000001", "000002", "000003"]
    for f in before.base:  # the base's files are carried, not rewritten
        old, new = (os.stat(os.path.join(v, f)) for v in (before.version_dir, snap.version_dir))
        assert old.st_ino == new.st_ino
    base = [(i, 10, i) for i in range(8)]
    assert _rows(t.read()) == _model(base, b1, b2, b3)
    assert _rows(snap.base_df) == base
    assert snap.schema == snap.df.schema
    assert _gw_rows(ServingGateway(table=t)) == _model(base, b1, b2, b3)


def test_a_delta_never_committed_is_invisible(spark, tmp_path, monkeypatch):
    """A crash between the delta's file write and the CAS leaves files on
    disk that no read, handle or gateway sees."""
    t = _table(spark, tmp_path)
    t.upsert(spark.createDataFrame([(1, 20, 100)], DDL))
    gw = ServingGateway(table=t)
    want = _gw_rows(gw)
    committed = t.snapshot().version_dir

    def crash(*a, **kw):
        raise RuntimeError("crashed before the CAS")

    monkeypatch.setattr(t, "_commit_version", crash)
    with pytest.raises(RuntimeError):
        t.upsert(spark.createDataFrame([(1, 30, 111), (2, 30, 222)], DDL))
    monkeypatch.undo()
    orphans = [
        d for d in os.listdir(t.path)
        if d.startswith("v") and os.path.join(t.path, d) != committed
        and os.path.isdir(os.path.join(t.path, d, keyed_table.DELTAS))
    ]
    assert orphans  # the delta was written ...
    assert t.snapshot().version_dir == committed  # ... and never named
    assert _rows(t.read()) == want
    assert _rows(KeyedTable(spark, t.path, ["k"], "ts").snapshot().df) == want
    assert _gw_rows(gw) == want
    assert _gw_rows(ServingGateway(table=t)) == want


def test_pending_deltas_fold_into_a_new_base_past_the_bound(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(keyed_table, "MAX_DELTAS", 2)
    t = _table(spark, tmp_path)
    gw = ServingGateway(table=t)
    base0 = t.snapshot().base
    batches = [[(i, 10, i) for i in range(8)]]
    for n, batch in enumerate(
        [[(1, 20, 1)], [(2, 20, 2), (1, 5, 0)], [(3, 20, 3)], [(1, 30, 4)]], 1
    ):
        t.upsert(spark.createDataFrame(batch, DDL))
        batches.append(batch)
        snap = t.snapshot()
        # two deltas pend; the third upsert folds them (and itself) into a
        # new base, the fourth is a delta on that base
        assert len(snap.deltas) == [1, 2, 0, 1][n - 1]
        assert (snap.base == base0) == (n <= 2)
        assert _rows(snap.df) == _model(*batches)
        assert _gw_rows(gw) == _model(*batches)
    res = t.compact(target_file_bytes=1 << 30)  # compact() folds them too
    assert res["compacted"] and t.snapshot().deltas == ()
    assert _rows(t.read()) == _model(*batches) == _gw_rows(gw)


def test_tombstone_batch_after_deltas_follows_the_merge(spark, tmp_path):
    """A batch with a tombstone takes the merge: the key goes, and a later
    row with an older ts brings it back, as merge_upsert one batch at a
    time does; an older tombstone loses to a newer delta row."""
    t = _table(spark, tmp_path, tombstone_col="dead")
    gw = ServingGateway(table=t)

    def upsert(rows):
        t.upsert(spark.createDataFrame(rows, DEAD_DDL))
        return t.snapshot()

    assert upsert([(1, 20, 100, False), (2, 20, 200, False)]).deltas
    snap = upsert([(1, 30, 0, True), (2, 15, 0, True)])
    assert snap.deltas == ()  # merged into a new base
    want = sorted([(2, 20, 200)] + [(i, 10, i) for i in range(8) if i not in (1, 2)])
    assert _rows(snap.df) == want == _gw_rows(gw)
    snap = upsert([(1, 5, 55, False)])  # older than the tombstone: resurrects
    assert snap.deltas
    want = sorted(want + [(1, 5, 55)])
    assert _rows(snap.df) == want == _gw_rows(gw)
    assert "dead" not in snap.df.columns


def test_manifest_pruned_reads_and_changes_see_deltas(spark, tmp_path):
    t = _table(spark, tmp_path, retain_versions=3)
    v0 = os.path.basename(t.snapshot().version_dir)
    t.upsert(spark.createDataFrame([(1, 20, 100), (9, 20, 900)], DDL))
    t.upsert(spark.createDataFrame([(9, 30, 901)], DDL))
    snap = t.snapshot()
    stats = t.file_stats()
    assert stats["n_files"] == len(snap.base) + 2
    assert stats["total_bytes"] == sum(snap.files.values())
    m = t.write_manifest()
    assert sorted(e["file"] for e in m["files"]) == sorted(snap.files)
    for k in (1, 3, 9, 99):
        assert _rows(t.read_pruned({"k": k})) == _rows(t.get({"k": k}))
    ch = t.changes_between(v0, os.path.basename(snap.version_dir))
    assert sorted((r["k"], r["change"]) for r in ch.collect()) == [
        (1, "update"), (9, "insert")
    ]
    assert _rows(t.read_version(v0)) == [(i, 10, i) for i in range(8)]


def test_a_reclaimed_handle_raises_instead_of_reading_empty(spark, tmp_path):
    """A handle outlives its version dir once retention reclaims it: its
    file listing must raise as its rows do, not report a table of 0
    files."""
    t = _table(spark, tmp_path, retain_versions=2)
    stale = t.snapshot()
    for b in ([(1, 20, 100)], [(2, 20, 200)]):
        t.upsert(spark.createDataFrame(b, DDL))
    assert not os.path.isdir(stale.version_dir)
    for view in ("files", "base", "deltas", "df"):
        with pytest.raises(FileNotFoundError):
            getattr(stale, view)
    with pytest.raises(FileNotFoundError):
        t._file_stats(stale)


def test_post_and_next_get_run_one_spark_job(spark, tmp_path):
    """The cost of a gateway POST: typing its rows is the one Spark job;
    the commit writes a delta and links the base, and the next GET folds
    the delta into the in-memory copy with no job (copy-on-write: 3 jobs
    for the POST, 2 for the reload). An insert POST rides the delta path
    too."""
    t = _table(spark, tmp_path)
    gw = ServingGateway(table=t)
    gw.point_get({"k": 1})  # the base is loaded
    before = t.snapshot()
    assert before.base

    def post_then_get():
        gw.upsert([{"k": 1, "ts": 20, "v": 100}, {"k": 42, "ts": 20, "v": 4200}])
        assert gw.point_get({"k": 42}) == [{"k": 42, "ts": 20, "v": 4200}]

    assert _jobs(spark, "post-then-get", post_then_get) == 1
    after = t.snapshot()
    assert after.base == before.base and len(after.deltas) == 1
    assert all(
        os.stat(os.path.join(before.version_dir, f)).st_ino
        == os.stat(os.path.join(after.version_dir, f)).st_ino
        for f in before.base
    )
    assert gw.insert([{"k": 1, "ts": 99, "v": 0}, {"k": 43, "ts": 1, "v": 1}]) == {
        "inserted": 1, "skipped": 1
    }
    snap = t.snapshot()
    assert snap.base == before.base and len(snap.deltas) == 2
    assert gw.point_get({"k": 1}) == [{"k": 1, "ts": 20, "v": 100}]
    assert gw.point_get({"k": 43}) == [{"k": 43, "ts": 1, "v": 1}]
