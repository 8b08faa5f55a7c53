"""Write-audit-publish gate: rejected epochs are un-happened, their
exactly-once slots re-open, and published epochs are never disturbed."""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from embulk_filter_copy_spark.cdc.audit import (
    AuditViolation,
    apply_batch_audited,
    replay_batch_audited,
)
from embulk_filter_copy_spark.lake.table import LakeTable

EVENT_DDL = "lsn long, ts timestamp, op string, k long, grp string, x double, schema_change string"

# violations = negative x values arriving in this epoch's delta
AUDIT = "SELECT * FROM epoch_changes WHERE op = 'U' AND x < 0"


def _mk(spark, path):
    return LakeTable.create(
        spark, path, [("k", "long"), ("grp", "string"), ("x", "double")],
        key_columns=["k"], n_buckets=4,
    )


def _ev(spark, rows):
    data = [
        (lsn, datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=lsn),
         op, k, grp, x, None)
        for (lsn, op, k, grp, x) in rows
    ]
    return spark.createDataFrame(data, EVENT_DDL)


def _state(t):
    return sorted(tuple(r) for r in t.read().collect())


def test_publish_then_reject_then_correct(spark, tmpdir_path):
    t = _mk(spark, os.path.join(tmpdir_path, "t"))
    ok0 = _ev(spark, [(1, "I", 1, "a", 1.0), (2, "I", 2, "a", 2.0)])
    res = apply_batch_audited(spark, t, ok0, "wap", 0, AUDIT)
    assert res["audited"] is True
    s0 = _state(t)

    bad = _ev(spark, [(10, "U", 1, "a", -5.0), (11, "I", 3, "b", 3.0)])
    with pytest.raises(AuditViolation) as ei:
        apply_batch_audited(spark, t, bad, "wap", 1, AUDIT)
    assert ei.value.epoch == 1 and ei.value.n_violations == 1
    assert ei.value.sample[0]["k"] == 1
    # the WHOLE epoch is un-happened (including its clean rows) and epoch 0
    # stays published
    assert _state(t) == s0

    # the corrected batch re-applies under the SAME (run, epoch): the
    # rollback re-opened the exactly-once slot
    fixed = _ev(spark, [(10, "U", 1, "a", 5.0), (11, "I", 3, "b", 3.0)])
    res = apply_batch_audited(spark, t, fixed, "wap", 1, AUDIT)
    assert res["audited"] is True
    assert {r["k"]: r["x"] for r in t.read().collect()} == {1: 5.0, 2: 2.0, 3: 3.0}

    # re-delivery of a published epoch skips (idempotent) without re-audit
    res = apply_batch_audited(spark, t, fixed, "wap", 1, AUDIT)
    assert res.get("skipped") is True


def test_replay_stops_at_first_rejected_epoch(spark, tmpdir_path):
    t = _mk(spark, os.path.join(tmpdir_path, "t"))
    # epoch split on lsn ranges: epoch 0 = clean, epoch 1 carries the poison
    ev = _ev(spark, [
        (1, "I", 1, "a", 1.0), (2, "I", 2, "a", 2.0),
        (6, "I", 3, "b", 3.0), (7, "U", 2, "a", -9.0),
    ])
    with pytest.raises(AuditViolation) as ei:
        replay_batch_audited(spark, ev, t, AUDIT, run_id="wap2", n_epochs=2)
    assert ei.value.epoch == 1
    # epoch 0 published, epoch 1 fully rolled back
    assert {r["k"]: r["x"] for r in t.read().collect()} == {1: 1.0, 2: 2.0}


def test_multi_epoch_replay_of_an_empty_frame_is_a_noop(spark, tmpdir_path):
    t = _mk(spark, os.path.join(tmpdir_path, "t"))
    v = t.current_version()
    out = replay_batch_audited(spark, _ev(spark, []), t, AUDIT, run_id="e", n_epochs=3)
    assert len(out) == 1 and out[0]["rows_applied"] == 0
    assert t.current_version() == v and _state(t) == []


def test_plain_and_audited_replay_cut_the_same_epochs(spark, tmpdir_path):
    """Both bounded replays share one LSN splitter: the same log commits the
    same per-epoch LSN ranges, and an empty log is one no-op epoch."""
    from embulk_filter_copy_spark.cdc.replayer import replay_batch

    ev = _ev(spark, [(lsn, "I", lsn, "a", float(lsn)) for lsn in range(1, 12)])
    plain = _mk(spark, os.path.join(tmpdir_path, "plain"))
    audited = _mk(spark, os.path.join(tmpdir_path, "audited"))
    replay_batch(spark, ev, plain, run_id="cut", n_epochs=3)
    replay_batch_audited(spark, ev, audited, AUDIT, run_id="cut", n_epochs=3)

    def ranges(t):
        return [(c["epoch"], c["lsn_min"], c["lsn_max"])
                for c in t.commits() if c["run_id"] == "cut"]

    assert ranges(plain) == ranges(audited) == [(0, 1, 3), (1, 4, 7), (2, 8, 11)]
    empty = _ev(spark, [])
    out = replay_batch(spark, empty, plain, run_id="none", n_epochs=3)
    assert len(out) == 1 and out[0]["rows_applied"] == 0


def test_table_level_invariants_join_the_view(spark, tmpdir_path):
    """The audit SQL can join epoch_changes against the table for
    referential checks while still scanning only the epoch's delta on the
    driving side."""
    t = _mk(spark, os.path.join(tmpdir_path, "t"))
    apply_batch_audited(
        spark, t, _ev(spark, [(1, "I", 1, "a", 1.0)]), "wap3", 0, AUDIT
    )
    t.read().createOrReplaceTempView("sink_now")
    # invariant: no delete may target a key that never existed
    audit = """
      SELECT c.* FROM epoch_changes c
      LEFT JOIN sink_now s ON s.k = c.k
      WHERE c.op = 'D' AND s.k IS NULL
    """
    # a delete of an unknown key is a violation under this audit
    with pytest.raises(AuditViolation):
        apply_batch_audited(
            spark, t, _ev(spark, [(5, "D", 99, None, None)]), "wap3", 1, audit
        )


def test_streaming_wap_gate_poison_heal_resume(spark, tmpdir_path):
    """End-to-end WAP through the streaming replay: a poisoned WAL chunk
    fails its epoch AND un-happens it on the sink; healing the chunk and
    resuming from the same checkpoint converges to the clean-log state."""
    import glob
    import shutil

    from embulk_filter_copy_spark.cdc.replayer import replay_stream
    from embulk_filter_copy_spark.fixtures import (
        REPO_FILES_SCHEMA,
        gen_change_events,
        gen_repo_files,
    )

    def write_chunk(df, log_dir, name):
        tmp = os.path.join(tmpdir_path, f"chunk-tmp-{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.makedirs(log_dir, exist_ok=True)
        shutil.copy(part, os.path.join(log_dir, f"{name}.parquet"))
        shutil.rmtree(tmp)

    def mk_sink(name):
        s = LakeTable.create(
            spark, os.path.join(tmpdir_path, name), REPO_FILES_SCHEMA,
            key_columns=["repo", "path"], n_buckets=8,
        )
        s.append(base.withColumn("_lsn", F.lit(0)))
        return s

    base = gen_repo_files(spark, 80, seed=4)
    sink = mk_sink("sink")
    ev = gen_change_events(spark, 80, 200, seed=4)
    lo, hi = ev.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    mid = (lo + hi) // 2
    c1 = ev.filter(F.col("lsn") <= mid)
    c2 = ev.filter(F.col("lsn") > mid)
    poison = c2.withColumn(
        "content", F.when(F.col("op") == "U", F.lit("POISON")).otherwise(F.col("content"))
    )

    log = os.path.join(tmpdir_path, "log")
    write_chunk(c1, log, "c1")
    write_chunk(poison, log, "c2")
    ckpt = os.path.join(tmpdir_path, "ckpt")
    audit = "SELECT * FROM epoch_changes WHERE op = 'U' AND content = 'POISON'"

    with pytest.raises(Exception, match="audit rejected"):
        replay_stream(
            spark, log, os.path.join(tmpdir_path, "sink"),
            checkpoint=ckpt, max_files_per_trigger=1, audit_sql=audit,
        )
    # the poisoned epoch is fully un-happened: no POISON rows on the sink
    assert sink.read().filter(F.col("content") == "POISON").count() == 0

    # heal the chunk IN PLACE (same path — the pinned offsets re-read it)
    # and resume from the same checkpoint: the rolled-back epoch's
    # exactly-once slot re-opened, so the retry applies cleanly
    write_chunk(c2, log, "c2")
    replay_stream(
        spark, log, os.path.join(tmpdir_path, "sink"),
        checkpoint=ckpt, max_files_per_trigger=1, audit_sql=audit,
    )
    # final state equals a never-poisoned replay into a fresh sink
    oracle = mk_sink("oracle")
    replay_stream(
        spark, log, os.path.join(tmpdir_path, "oracle"),
        checkpoint=os.path.join(tmpdir_path, "ckpt-oracle"),
    )
    a = sorted(tuple(r) for r in sink.read().collect())
    b = sorted(tuple(r) for r in oracle.read().collect())
    assert a == b and len(a) > 0


def test_streaming_audit_rejects_history_sinks(spark, tmpdir_path):
    from embulk_filter_copy_spark.cdc.replayer import FanoutApplier
    from embulk_filter_copy_spark.cdc.splitter import SinkSpec, flatten_specs

    leaves = flatten_specs(SinkSpec(
        name="root", path=None, children=(
            SinkSpec(name="cur", path=os.path.join(tmpdir_path, "c")),
            SinkSpec(name="hist", path=os.path.join(tmpdir_path, "h"), mode="history"),
        ),
    ))
    with pytest.raises(ValueError, match="history sinks"):
        FanoutApplier(spark, leaves, "r", audit_sql="SELECT 1")
