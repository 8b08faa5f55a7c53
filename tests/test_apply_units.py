"""The epoch unit loop of ``apply_batch``: its Spark job budget, the shape
of every unit commit, the epoch-done marker rule, and mid-epoch resume."""

import os
import uuid

import pytest
from pyspark.sql import functions as F

from embulk_filter_copy_spark.cdc import apply as apply_mod
from embulk_filter_copy_spark.cdc.apply import apply_batch, read_lineage
from embulk_filter_copy_spark.cdc.replayer import FanoutApplier
from embulk_filter_copy_spark.cdc.splitter import LeafSink
from embulk_filter_copy_spark.fixtures import (
    REPO_FILES_SCHEMA,
    gen_change_events,
    gen_repo_files,
    replay_oracle,
)
from embulk_filter_copy_spark.lake.table import LakeTable

ADD_X = {"action": "add", "column": "x", "type": "long"}
ADD_Y = {"action": "add", "column": "y", "type": "long"}


def _bootstrap(spark, tmpdir_path, name="tbl"):
    base = gen_repo_files(spark, 200, seed=42)
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, name), REPO_FILES_SCHEMA,
        key_columns=["repo", "path"], n_buckets=8,
    )
    t.append(base.withColumn("_lsn", F.lit(0)))
    return t, base


class _JobCounter:
    """Counts the Spark jobs a call issues on this thread (a job group read
    back through the status tracker), and separately the jobs issued inside
    ``merge_into``, so the jobs outside the merges can be pinned."""

    def __init__(self, spark, monkeypatch):
        self.sc = spark.sparkContext
        self.group = None
        self.in_merge = 0
        real = apply_mod.merge_into

        def counted_merge(*a, **kw):
            before = self._n()
            try:
                return real(*a, **kw)
            finally:
                self.in_merge += self._n() - before

        monkeypatch.setattr(apply_mod, "merge_into", counted_merge)

    def _n(self):
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group))

    def __call__(self, fn):
        self.group = f"jobs-{uuid.uuid4().hex}"
        self.in_merge = 0
        self.sc.setJobGroup(self.group, self.group)
        try:
            fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return self._n()


def test_steady_state_cow_epoch_job_count(spark, tmpdir_path, monkeypatch):
    """Pre-pass plus the merge: 7 jobs, as before the fold. Under adaptive
    execution an aggregation is two jobs (map stage, result), so the
    pre-pass accounts for the 2 jobs outside the merge."""
    t, _ = _bootstrap(spark, tmpdir_path)
    ev = gen_change_events(spark, 200, 400, seed=9)
    jobs = _JobCounter(spark, monkeypatch)
    assert jobs(lambda: apply_batch(t, ev, run_id="j", epoch=0)) == 7
    assert jobs.in_merge == 5


def test_fanout_steady_state_epoch_job_count(spark, tmpdir_path, monkeypatch):
    """The same epoch through the streaming fan-out callable: persist and
    materialize, pre-pass, distinct-key count, merge — 13 jobs, as before
    the fold."""
    t, _ = _bootstrap(spark, tmpdir_path)
    ev = gen_change_events(spark, 200, 400, seed=9)
    fan = FanoutApplier(spark, [LeafSink("s", t.path)], run_id="f")
    jobs = _JobCounter(spark, monkeypatch)
    assert jobs(lambda: fan(ev, 0)) == 13
    assert [c["seq"] for c in t.commits() if c["run_id"] == "f"] == [-1]


@pytest.mark.parametrize("changes,total", [
    # one DDL → 2 data units; the code before the fold ran 18 jobs (a
    # persisted-dedup stats job per unit)
    ([(200, ADD_X)], 14),
    # two DDLs → 3 data units; 26 jobs before the fold
    ([(130, ADD_X), (260, ADD_Y)], 19),
])
def test_ddl_epoch_runs_one_stats_job(spark, tmpdir_path, monkeypatch, changes, total):
    """Outside its merges a DDL-split epoch runs the pre-pass and ONE stats
    job for all its units, however many it has: 4 jobs, two per
    aggregation (see the steady-state test)."""
    t, _ = _bootstrap(spark, tmpdir_path)
    ev = gen_change_events(spark, 200, 400, seed=9, schema_changes=changes)
    jobs = _JobCounter(spark, monkeypatch)
    assert jobs(lambda: apply_batch(t, ev, run_id="d", epoch=0)) == total
    assert total - jobs.in_merge == 4


def _unit_commits(t, run_id):
    return [c for c in t.commits() if c["run_id"] == run_id and "rows_source" in c]


def test_unit_commits_carry_one_field_set(spark, tmpdir_path):
    """A one-unit epoch and a DDL-split epoch commit their units with the
    same fields, and every unit's lineage is per source partition."""
    t1, _ = _bootstrap(spark, tmpdir_path, "one")
    apply_batch(t1, gen_change_events(spark, 200, 400, seed=9), run_id="u", epoch=0)
    t2, _ = _bootstrap(spark, tmpdir_path, "ddl")
    ev = gen_change_events(spark, 200, 400, seed=9, schema_changes=[(200, ADD_X)])
    apply_batch(t2, ev, run_id="u", epoch=0)

    (one,) = _unit_commits(t1, "u")
    split = _unit_commits(t2, "u")
    assert [c["seq"] for c in split] == [0, 2]
    assert one["seq"] == -1
    assert all(set(c) == set(one) for c in split)
    assert {"lsn_min", "lsn_max", "ts_max", "rows_source", "rows_applied"} <= set(one)
    lin = {rec["seq"]: rec for rec in read_lineage(t2)}
    for c in split:
        parts = lin[c["seq"]]["partitions"]
        assert len(parts) > 1
        assert sum(p["rows"] for p in parts) == c["rows_source"]
        assert min(p["lsn_min"] for p in parts) == c["lsn_min"]
        assert max(p["lsn_max"] for p in parts) == c["lsn_max"]
    # the units partition the epoch's data rows around the DDL's LSN
    assert split[0]["lsn_max"] < 200 < split[1]["lsn_min"]
    assert sum(c["rows_source"] for c in split) == ev.filter("op != 'S'").count()


def test_empty_batch_with_quarantine_writes_no_commit(spark, tmpdir_path):
    t, _ = _bootstrap(spark, tmpdir_path)
    empty = gen_change_events(spark, 200, 400, seed=9).limit(0)
    v = t.current_version()
    res = apply_batch(
        t, empty, run_id="e", epoch=0,
        quarantine=(os.path.join(tmpdir_path, "q"), 600),
    )
    assert res["rows_applied"] == 0 and res["quarantined"] == 0
    assert t.current_version() == v


def test_ddl_epoch_resumes_by_skipping_committed_units(spark, tmpdir_path, monkeypatch):
    """A crash after the first unit's commit: the re-run skips that unit
    (its seq=0 commit is not repeated), applies the rest and the marker,
    and the table matches the oracle."""
    t, base = _bootstrap(spark, tmpdir_path)
    ev = gen_change_events(spark, 200, 400, seed=9, schema_changes=[(200, ADD_X)])
    real = apply_mod.merge_into
    calls = []

    def crash_on_second(*a, **kw):
        calls.append(a[2]["seq"])
        if len(calls) == 2:
            raise RuntimeError("injected crash")
        return real(*a, **kw)

    monkeypatch.setattr(apply_mod, "merge_into", crash_on_second)
    with pytest.raises(RuntimeError, match="injected"):
        apply_batch(t, ev, run_id="c", epoch=0)
    assert [c["seq"] for c in t.commits() if c["run_id"] == "c"] == [0]

    calls.clear()
    res = apply_batch(t, ev, run_id="c", epoch=0)
    assert calls == [2] and res["rows_applied"] > 0
    assert [c["seq"] for c in t.commits() if c["run_id"] == "c"] == [0, 2, -1]
    golden = replay_oracle(base.toPandas(), ev.toPandas())
    got = t.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    cols = ["repo", "path", "content", "commit"]
    assert got[cols].equals(golden[cols].reset_index(drop=True))
