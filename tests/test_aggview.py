"""Incremental aggregate view: delta maintenance must equal full recompute
under inserts, updates, deletes, group-moving updates, null groups, rollback
fallbacks, and repeated (idempotent) refreshes."""

import datetime
import os

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


def test_commit_sweeps_crash_leaked_data_dirs(spark, tmpdir_path):
    """A crash between the meta-pointer swap and cleanup leaks a data dir;
    the NEXT commit must sweep every non-current one."""
    t = _mk(spark, os.path.join(tmpdir_path, "t"))
    vp = os.path.join(tmpdir_path, "view")
    apply_batch(t, _ev(spark, [(1, "I", 1, "a", 1.0)]), run_id="av", epoch=0)
    build_agg_view(spark, t, vp, group_cols=["grp"], sum_cols=["x"])
    # simulate the leak: a stale dir from a crashed commit
    leaked = os.path.join(vp, "data-99999999-deadbeef")
    os.makedirs(leaked)
    apply_batch(t, _ev(spark, [(2, "I", 2, "b", 2.0)]), run_id="av", epoch=1)
    refresh_agg_view(spark, t, vp)
    dirs = [d for d in os.listdir(vp) if d.startswith("data-")]
    assert len(dirs) == 1 and not os.path.exists(leaked)
    assert _view(spark, vp) == _direct(t)
