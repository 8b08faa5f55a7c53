"""Incremental aggregate view: delta maintenance must equal full recompute
under inserts, updates, deletes, group-moving updates, null groups, rollback
fallbacks, and repeated (idempotent) refreshes. The view is a LakeTable, so
held readers, failed commits, fsck and expire behave as on any table."""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from embulk_filter_copy_spark.cdc.aggview import (
    agg_view_version,
    build_agg_view,
    read_agg_view,
    refresh_agg_view,
)
from embulk_filter_copy_spark.cdc.apply import apply_batch
from embulk_filter_copy_spark.lake.table import LakeTable

EVENT_DDL = "lsn long, ts timestamp, op string, k long, grp string, x double, schema_change string"


def _mk(spark, path):
    return LakeTable.create(
        spark, path, [("k", "long"), ("grp", "string"), ("x", "double")],
        key_columns=["k"], n_buckets=4,
    )


def _ev(spark, rows):
    """rows: (lsn, op, k, grp, x)"""
    data = [
        (lsn, datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=lsn),
         op, k, grp, x, None)
        for (lsn, op, k, grp, x) in rows
    ]
    return spark.createDataFrame(data, EVENT_DDL)


def _direct(table):
    return {
        r["grp"]: (r["n"], round(r["s"] or 0.0, 6))
        for r in table.read()
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.coalesce("x", F.lit(0.0))).alias("s"))
        .collect()
    }


def _view(spark, vp):
    return {
        r["grp"]: (r["n_rows"], round(r["sum_x"], 6))
        for r in read_agg_view(spark, vp).collect()
    }


def test_incremental_matches_full_recompute(spark, tmpdir_path):
    t = _mk(spark, os.path.join(tmpdir_path, "t"))
    vp = os.path.join(tmpdir_path, "view")
    apply_batch(
        t,
        _ev(spark, [
            (1, "I", 1, "a", 1.0), (2, "I", 2, "a", 2.0), (3, "I", 3, "a", 3.0),
            (4, "I", 4, "b", 10.0), (5, "I", 5, "b", 20.0), (6, "I", 6, "c", 100.0),
        ]),
        run_id="av", epoch=0,
    )
    build_agg_view(spark, t, vp, group_cols=["grp"], sum_cols=["x"])
    assert _view(spark, vp) == _direct(t) == {"a": (3, 6.0), "b": (2, 30.0), "c": (1, 100.0)}

    # update in place, delete, insert, and a GROUP-MOVING update (k=3: a -> b)
    apply_batch(
        t,
        _ev(spark, [
            (10, "U", 1, "a", 5.0),     # a: sum 1 -> 5
            (11, "D", 2, None, None),   # a: row leaves
            (12, "I", 7, "c", 7.0),     # c: new row
            (13, "U", 3, "b", 3.0),     # moves a -> b
        ]),
        run_id="av", epoch=1,
    )
    res = refresh_agg_view(spark, t, vp)
    assert res["mode"] == "incremental"
    assert _view(spark, vp) == _direct(t) == {"a": (1, 5.0), "b": (3, 33.0), "c": (2, 107.0)}

    # drain group c entirely: it must disappear from the view
    apply_batch(
        t, _ev(spark, [(20, "D", 6, None, None), (21, "D", 7, None, None)]),
        run_id="av", epoch=2,
    )
    assert refresh_agg_view(spark, t, vp)["mode"] == "incremental"
    got = _view(spark, vp)
    assert "c" not in got and got == _direct(t)


def test_refresh_is_idempotent_and_versioned(spark, tmpdir_path):
    t = _mk(spark, os.path.join(tmpdir_path, "t"))
    vp = os.path.join(tmpdir_path, "view")
    apply_batch(t, _ev(spark, [(1, "I", 1, "a", 1.0)]), run_id="av", epoch=0)
    build_agg_view(spark, t, vp, group_cols=["grp"], sum_cols=["x"])
    v = agg_view_version(vp)
    assert v == t.current_version()
    assert refresh_agg_view(spark, t, vp)["mode"] == "noop"
    assert agg_view_version(vp) == v
    assert _view(spark, vp) == _direct(t)


def test_null_group_is_not_duplicated_across_refreshes(spark, tmpdir_path):
    t = _mk(spark, os.path.join(tmpdir_path, "t"))
    vp = os.path.join(tmpdir_path, "view")
    apply_batch(
        t, _ev(spark, [(1, "I", 1, None, 1.0), (2, "I", 2, "a", 2.0)]),
        run_id="av", epoch=0,
    )
    build_agg_view(spark, t, vp, group_cols=["grp"], sum_cols=["x"])
    # touch the null group in two successive refreshes: a plain equi-join
    # would fork it (NULL != NULL) instead of merging
    apply_batch(t, _ev(spark, [(10, "I", 3, None, 10.0)]), run_id="av", epoch=1)
    refresh_agg_view(spark, t, vp)
    apply_batch(t, _ev(spark, [(20, "U", 1, None, 5.0)]), run_id="av", epoch=2)
    refresh_agg_view(spark, t, vp)
    rows = read_agg_view(spark, vp).filter(F.col("grp").isNull()).collect()
    assert len(rows) == 1
    assert (rows[0]["n_rows"], round(rows[0]["sum_x"], 6)) == (2, 15.0)
    assert _view(spark, vp) == _direct(t)


def test_refresh_rebuilds_when_feed_refuses_the_gap(spark, tmpdir_path):
    t = _mk(spark, os.path.join(tmpdir_path, "t"))
    vp = os.path.join(tmpdir_path, "view")
    apply_batch(t, _ev(spark, [(1, "I", 1, "a", 1.0), (2, "I", 2, "b", 2.0)]),
                run_id="av", epoch=0)
    v_good = t.current_version()
    build_agg_view(spark, t, vp, group_cols=["grp"], sum_cols=["x"])
    apply_batch(t, _ev(spark, [(10, "I", 3, "b", 30.0)]), run_id="av", epoch=1)
    refresh_agg_view(spark, t, vp)

    # rollback regresses the table BELOW the view's version: the changelog
    # cannot express that, so the refresh must rebuild — and be exact
    t.rollback(v_good)
    res = refresh_agg_view(spark, t, vp)
    assert res["mode"] == "rebuild"
    assert _view(spark, vp) == _direct(t) == {"a": (1, 1.0), "b": (1, 2.0)}

    # after the rebuild the view is versioned at the post-rollback snapshot
    # and increments cleanly again
    apply_batch(t, _ev(spark, [(11, "I", 4, "a", 4.0)]), run_id="av2", epoch=0)
    assert refresh_agg_view(spark, t, vp)["mode"] == "incremental"
    assert _view(spark, vp) == _direct(t)


def test_refresh_stays_incremental_after_an_audit_rejected_epoch(spark, tmpdir_path):
    """A rejected epoch rolls the table back to the view's own version: no
    state the view saw was undone, so the refresh needs no rebuild."""
    import pytest

    from embulk_filter_copy_spark.cdc.audit import AuditViolation, apply_batch_audited

    audit = "SELECT * FROM epoch_changes WHERE x < 0"
    t = _mk(spark, os.path.join(tmpdir_path, "t"))
    vp = os.path.join(tmpdir_path, "view")
    apply_batch(t, _ev(spark, [(1, "I", 1, "a", 1.0)]), run_id="av", epoch=0)
    build_agg_view(spark, t, vp, group_cols=["grp"], sum_cols=["x"])
    with pytest.raises(AuditViolation):
        apply_batch_audited(spark, t, _ev(spark, [(2, "I", 2, "a", -1.0)]), "av", 1, audit)
    apply_batch_audited(spark, t, _ev(spark, [(2, "I", 2, "b", 2.0)]), "av", 1, audit)
    assert refresh_agg_view(spark, t, vp)["mode"] == "incremental"
    assert _view(spark, vp) == _direct(t) == {"a": (1, 1.0), "b": (1, 2.0)}


def test_refresh_rebuilds_across_a_bucket_spec_change(spark, tmpdir_path):
    t = _mk(spark, os.path.join(tmpdir_path, "t"))
    vp = os.path.join(tmpdir_path, "view")
    apply_batch(t, _ev(spark, [(1, "I", 1, "a", 1.0), (2, "I", 2, "b", 2.0)]),
                run_id="av", epoch=0)
    build_agg_view(spark, t, vp, group_cols=["grp"], sum_cols=["x"])
    t.rescale_buckets(5)
    apply_batch(t, _ev(spark, [(10, "U", 1, "b", 5.0)]), run_id="av", epoch=1)
    res = refresh_agg_view(spark, t, vp)
    assert res["mode"] == "rebuild"
    assert _view(spark, vp) == _direct(t) == {"b": (2, 7.0)}


def test_streaming_replay_maintains_agg_view(spark, tmpdir_path):
    """replay_stream(agg_views=...): the view refreshes from the sink's
    changelog after every published epoch, and a crash-resume replay never
    double-counts (refresh is idempotent by table version)."""
    from embulk_filter_copy_spark.cdc.aggview import build_agg_view, read_agg_view
    from embulk_filter_copy_spark.cdc.replayer import replay_stream
    from embulk_filter_copy_spark.fixtures import (
        REPO_FILES_SCHEMA,
        gen_change_events,
        gen_repo_files,
    )

    base = gen_repo_files(spark, 60, seed=11)
    sink = LakeTable.create(
        spark, os.path.join(tmpdir_path, "sink"), REPO_FILES_SCHEMA,
        key_columns=["repo", "path"], n_buckets=8,
    )
    sink.append(base.withColumn("_lsn", F.lit(0)))
    vp = os.path.join(tmpdir_path, "view")
    build_agg_view(spark, sink, vp, group_cols=["lang"], sum_cols=[])

    ev = gen_change_events(spark, 60, 240, seed=11)
    log = os.path.join(tmpdir_path, "log")
    bounds = ev.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    span = (bounds[1] - bounds[0] + 1) / 3
    for c in range(3):
        lo = bounds[0] + int(c * span)
        hi = bounds[0] + int((c + 1) * span) if c < 2 else bounds[1] + 1
        ev.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi)).coalesce(1) \
          .write.mode("append").parquet(log)
    ckpt = os.path.join(tmpdir_path, "ckpt")

    # crash after the first epoch, then resume: view must land exact
    try:
        replay_stream(
            spark, log, os.path.join(tmpdir_path, "sink"), checkpoint=ckpt,
            max_files_per_trigger=1, fail_after_epoch=0,
            agg_views={"primary": [vp]},
        )
    except Exception:
        pass
    replay_stream(
        spark, log, os.path.join(tmpdir_path, "sink"), checkpoint=ckpt,
        max_files_per_trigger=1, agg_views={"primary": [vp]},
    )
    got = {r["lang"]: r["n_rows"] for r in read_agg_view(spark, vp).collect()}
    want = {
        r["lang"]: r["n"]
        for r in sink.read().groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_streaming_agg_views_reject_unknown_sink(spark, tmpdir_path):
    import pytest

    from embulk_filter_copy_spark.cdc.replayer import FanoutApplier
    from embulk_filter_copy_spark.cdc.splitter import SinkSpec, flatten_specs

    leaves = flatten_specs(SinkSpec(name="cur", path=os.path.join(tmpdir_path, "c")))
    with pytest.raises(ValueError, match="unknown sinks"):
        FanoutApplier(spark, leaves, "r", agg_views={"nope": ["/tmp/x"]})


def test_failed_view_commit_keeps_the_previous_view(spark, tmpdir_path, monkeypatch):
    """A refresh that dies writing the view's root leaves the previous
    view readable and its version unchanged; the next refresh catches up
    incrementally, and an orphan sweep removes the files the failed
    commit wrote."""
    t = _mk(spark, os.path.join(tmpdir_path, "t"))
    vp = os.path.join(tmpdir_path, "view")
    apply_batch(t, _ev(spark, [(1, "I", 1, "a", 1.0)]), run_id="av", epoch=0)
    build_agg_view(spark, t, vp, group_cols=["grp"], sum_cols=["x"])
    v = agg_view_version(vp)
    before = _view(spark, vp)
    apply_batch(t, _ev(spark, [(2, "I", 2, "b", 2.0)]), run_id="av", epoch=1)

    real = LakeTable._write_snapshot
    view_root = os.path.abspath(vp)

    def crash(self, snap):
        if self.path == view_root:
            raise OSError("crash before the view's root is written")
        return real(self, snap)

    monkeypatch.setattr(LakeTable, "_write_snapshot", crash)
    with pytest.raises(OSError, match="crash"):
        refresh_agg_view(spark, t, vp)
    monkeypatch.undo()
    assert _view(spark, vp) == before and agg_view_version(vp) == v

    assert refresh_agg_view(spark, t, vp)["mode"] == "incremental"
    assert _view(spark, vp) == _direct(t)
    view = LakeTable.load(spark, vp)
    res = view.expire_snapshots(sweep_orphans=True, orphan_grace_seconds=0)
    assert res["orphans_swept"] >= 1
    on_disk = {
        os.path.relpath(os.path.join(d, f), view.path)
        for d, _, fs in os.walk(os.path.join(view.path, "data"))
        for f in fs if f.endswith(".parquet")
    }
    live = {f["path"] for ver in range(1, view.current_version() + 1)
            for f in view.snapshot_at(ver).files()}
    assert on_disk == live
    assert _view(spark, vp) == _direct(t)


def test_reader_planned_before_a_refresh_keeps_reading(spark, tmpdir_path):
    """A view frame planned on version N still collects after N+1 commits,
    and time travel returns the pre-refresh aggregate."""
    t = _mk(spark, os.path.join(tmpdir_path, "t"))
    vp = os.path.join(tmpdir_path, "view")
    apply_batch(t, _ev(spark, [(1, "I", 1, "a", 1.0), (2, "I", 2, None, 2.0)]),
                run_id="av", epoch=0)
    build_agg_view(spark, t, vp, group_cols=["grp"], sum_cols=["x"])
    before = _view(spark, vp)
    held = read_agg_view(spark, vp)
    apply_batch(t, _ev(spark, [(3, "U", 1, "b", 3.0)]), run_id="av", epoch=1)
    assert refresh_agg_view(spark, t, vp)["mode"] == "incremental"
    assert _view(spark, vp) == _direct(t) != before
    assert {r["grp"]: (r["n_rows"], round(r["sum_x"], 6)) for r in held.collect()} == before
    view = LakeTable.load(spark, vp)  # the refresh was one commit
    old = view.read(version=view.current_version() - 1)
    assert {r["grp"]: (r["n_rows"], round(r["sum_x"], 6)) for r in old.collect()} == before
    # the view's key and sum columns are fixed at its first build
    with pytest.raises(ValueError, match="aggregates"):
        build_agg_view(spark, t, vp, group_cols=["grp"], sum_cols=[])


def test_cli_aggview_fsck_and_expire_on_a_view(spark, tmpdir_path, capsys):
    """The CLI builds then refreshes a view; fsck and expire work on the
    view path like on any table, and expire keeps the current rows."""
    import json

    from embulk_filter_copy_spark import cli

    t = _mk(spark, os.path.join(tmpdir_path, "t"))
    vp = os.path.join(tmpdir_path, "view")
    apply_batch(t, _ev(spark, [(1, "I", 1, "a", 1.0), (2, "I", 2, None, 2.0)]),
                run_id="av", epoch=0)

    def run(*argv):
        cli.main(["--master", "local[4]", *argv])
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    assert run("aggview", "--table", t.path, "--view", vp,
               "--group-by", "grp", "--sum", "x")["mode"] == "full"
    apply_batch(t, _ev(spark, [(3, "I", 3, "a", 3.0)]), run_id="av", epoch=1)
    assert run("aggview", "--table", t.path, "--view", vp)["mode"] == "incremental"
    assert _view(spark, vp) == _direct(t)
    assert run("fsck", "--table", vp)["ok"]

    view = LakeTable.load(spark, vp)
    superseded = {f["path"] for f in view.snapshot_at(view.current_version() - 1).files()}
    rows = _view(spark, vp)
    res = run("expire", "--table", vp, "--keep-last", "1")
    assert res["files_deleted"] == len(superseded) >= 1
    assert not any(os.path.exists(os.path.join(vp, p)) for p in superseded)
    assert _view(spark, vp) == rows


def test_view_follows_a_widened_group_column(spark, tmpdir_path):
    """The source widens its int group column to long; the refresh widens
    the view's column too instead of casting the new groups back to int."""
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), [("k", "long"), ("g", "int")],
        key_columns=["k"], n_buckets=2,
    )
    t.append(spark.createDataFrame([(1, 1), (2, 1)], "k long, g int").withColumn("_lsn", F.lit(1)))
    vp = os.path.join(tmpdir_path, "view")
    build_agg_view(spark, t, vp, group_cols=["g"])
    t.update_schema({"action": "widen", "column": "g", "to": "long"}, schema_lsn=2)
    big = 1 << 40
    t.append(spark.createDataFrame([(3, big)], "k long, g long").withColumn("_lsn", F.lit(3)))
    assert refresh_agg_view(spark, t, vp)["mode"] == "incremental"
    got = {r["g"]: r["n_rows"] for r in read_agg_view(spark, vp).collect()}
    assert got == {1: 2, big: 1}
