"""KeyedTable.snapshot(): one read of the version pointer gives a handle
whose version dir, metadata, rows and files describe the same commit;
and the table, read through the handle and through the serving gateway,
agrees with a python model of the merge under random upserts (as deltas
and as merges), racing writers, compactions and vacuums."""

from __future__ import annotations

import os
import pathlib
import re
import tempfile

import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    invariant,
    rule,
    run_state_machine_as_test,
)

from affinity_spark.serving import ServingGateway
from affinity_spark.sources import keyed_table
from affinity_spark.sources.keyed_table import ConcurrentWriteError, KeyedTable

SCHEMA = "k long, ts long, tb long, v long"
PKG = pathlib.Path(__file__).resolve().parent.parent / "affinity_spark"


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_handle_describes_one_commit_after_a_later_one_lands(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "t"), ["k"], "ts", num_buckets=2)
    t.overwrite(spark.createDataFrame([(1, 1, 0, 10)], SCHEMA), meta={"batch": 1})
    h = t.snapshot()
    t.overwrite(
        spark.createDataFrame([(1, 2, 0, 11), (2, 2, 0, 20)], SCHEMA),
        meta={"batch": 2},
    )
    now = t.snapshot()
    assert now.version_dir != h.version_dir
    assert (h.meta, now.meta) == ({"batch": 1}, {"batch": 2})
    # df and files are built after the later commit, and still name h's
    assert _rows(h.df) == [(1, 1, 0, 10)]
    assert _rows(now.df) == [(1, 2, 0, 11), (2, 2, 0, 20)]
    assert h.files and all(
        os.path.isfile(os.path.join(h.version_dir, f)) for f in h.files
    )
    assert h.files.keys().isdisjoint(now.files)
    with pytest.raises(ConcurrentWriteError):
        t.overwrite(h.df, expected_base=h.version_dir)
    assert t.snapshot().version_dir == now.version_dir


def test_handle_before_the_first_commit(spark, tmp_path):
    h = KeyedTable(spark, str(tmp_path / "t"), ["k"], "ts").snapshot()
    assert h.version_dir is None and h.meta == {}
    with pytest.raises(FileNotFoundError):
        h.df
    with pytest.raises(FileNotFoundError):
        h.files


def test_handle_of_a_read_version_runs_no_spark_job(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "t"), ["k"], "ts", num_buckets=4)
    t.upsert(spark.createDataFrame([(i, i, 0, i) for i in range(20)], SCHEMA))
    t.read()  # the version has been read once
    sc = spark.sparkContext
    sc.setJobGroup("handle-probe", "")
    try:
        h = t.snapshot()
        assert h.df.schema == t.read().schema
        assert h.meta == t.commit_meta() and t.exists()
        assert sc.statusTracker().getJobIdsForGroup("handle-probe") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_pruned_read_of_a_partitioned_table(spark, tmp_path):
    """The manifest lists files inside partition dirs too, and a pruned
    read of them keeps the partition column."""
    t = KeyedTable(
        spark, str(tmp_path / "t"), ["k"], "ts", num_buckets=2, partition_col="day"
    )
    t.overwrite(spark.createDataFrame(
        [(i, i, i % 3) for i in range(12)], "k long, ts long, day int"
    ))
    m = t.write_manifest()
    assert sorted(e["file"] for e in m["files"]) == sorted(t.snapshot().files)
    assert all(e["file"].startswith("day=") for e in m["files"])
    for k in (0, 4, 11):
        assert _rows(t.read_pruned({"k": k})) == _rows(t.get({"k": k}))
    assert t.read_pruned({"k": 99}).count() == 0


def test_only_keyed_table_reaches_past_the_read_api():
    """How a version is laid out and read is known to one module: every
    other package module goes through ``snapshot()``/``read()``."""
    pattern = re.compile(r"_current_version_dir\(|_version_dirs\(|_schema_memo")
    offenders = [
        f"{path.relative_to(PKG)}:{n}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "sources" / "keyed_table.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert offenders == []


# --- the table against a python model of the merge ---------------------------

# one batch: at most one row per key (k, ts, tb, v, tombstone), so the
# model is well defined; few keys and a small (ts, tb) domain force ties
batches = st.lists(
    st.tuples(
        st.integers(0, 4), st.integers(0, 2), st.integers(0, 1),
        st.integers(-9, 9), st.booleans(),
    ),
    min_size=1,
    max_size=5,
    unique_by=lambda r: r[0],
)
# batches with no tombstone: these commit as deltas
live_batches = batches.map(lambda b: [r[:4] + (False,) for r in b])


def test_table_and_gateway_match_a_model_of_the_merge(spark, tmp_path, monkeypatch):
    # two pending deltas fold into a new base: all three commit paths run
    monkeypatch.setattr(keyed_table, "MAX_DELTAS", 2)

    def table(path: str) -> KeyedTable:
        return KeyedTable(
            spark, path, ["k"], "ts",
            tiebreak_cols=["tb"], tombstone_col="dead", num_buckets=2,
        )

    def frame(batch):
        return spark.createDataFrame(
            batch, "k long, ts long, tb long, v long, dead boolean"
        )

    class Machine(RuleBasedStateMachine):
        def __init__(self):
            super().__init__()
            self.t = table(tempfile.mkdtemp(dir=tmp_path))
            self.gw = ServingGateway(table=self.t)
            self.model: dict[int, tuple[int, int, int]] = {}

        def apply(self, batch):
            for k, ts, tb, v, dead in batch:
                # greatest (ts, tb) wins; the update wins an exact tie
                if k in self.model and (ts, tb) < self.model[k][:2]:
                    continue
                if dead:
                    self.model.pop(k, None)
                else:
                    self.model[k] = (ts, tb, v)

        @rule(batch=batches)
        def upsert(self, batch):
            self.t.upsert(frame(batch))
            self.apply(batch)

        @rule(batch=live_batches)
        def upsert_live(self, batch):
            self.t.upsert(frame(batch))
            self.apply(batch)

        @rule(batch=live_batches, rival=batches)
        def racing_upsert(self, batch, rival):
            """A second writer on the same path commits between this
            upsert's base capture and its CAS: this one loses."""
            commit = self.t._commit_version

            def racing(*a, **kw):
                table(self.t.path).upsert(frame(rival))
                return commit(*a, **kw)

            self.t._commit_version = racing
            try:
                with pytest.raises(ConcurrentWriteError):
                    self.t.upsert(frame(batch))
            finally:
                del self.t._commit_version
            self.apply(rival)

        @rule()
        def compact(self):
            if self.t.exists():
                self.t.compact(target_file_bytes=1 << 30)

        @rule()
        def vacuum(self):
            self.t.vacuum_versions(keep=1)

        @invariant()
        def reads_match_the_model(self):
            want = sorted((k, *rest) for k, rest in self.model.items())
            h = self.t.snapshot()
            if h.version_dir is None:
                assert want == []
                return
            assert _rows(h.df.select("k", "ts", "tb", "v")) == want
            assert self.gw._snapshot() is not None  # served from memory
            got = self.gw.prefix_range({})
            assert sorted((r["k"], r["ts"], r["tb"], r["v"]) for r in got) == want

    run_state_machine_as_test(
        Machine,
        settings=settings(
            max_examples=10,
            stateful_step_count=8,
            deadline=None,
            suppress_health_check=list(HealthCheck),
        ),
    )
