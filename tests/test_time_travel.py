"""Time travel + incremental change scan: the sink acting as a CDC source."""

import os

from pyspark.sql import functions as F

from embulk_filter_copy_spark.cdc.apply import apply_batch
from embulk_filter_copy_spark.fixtures import REPO_FILES_SCHEMA, gen_change_events, gen_repo_files
from embulk_filter_copy_spark.lake.table import LakeTable

EVENT_DDL = (
    "lsn long, ts timestamp, op string, repo string, path string,"
    " commit string, lang string, content string, schema_change string"
)


def _bootstrap(spark, path, n_base=100, n_buckets=8):
    base = gen_repo_files(spark, n_base, seed=3)
    t = LakeTable.create(
        spark, path, REPO_FILES_SCHEMA, key_columns=["repo", "path"], n_buckets=n_buckets
    )
    t.append(base.withColumn("_lsn", F.lit(0)))
    return t


def test_time_travel_reproduces_old_state(spark, tmpdir_path):
    t = _bootstrap(spark, os.path.join(tmpdir_path, "t"))
    v_boot = t.current_version()
    state0 = sorted(tuple(r) for r in t.read().collect())

    ev = gen_change_events(spark, 100, 300, seed=3)
    apply_batch(t, ev, run_id="tt", epoch=0)
    state1 = sorted(tuple(r) for r in t.read().collect())
    assert state1 != state0

    # the historical snapshot is intact after the merge rewrote buckets
    assert sorted(tuple(r) for r in t.read(version=v_boot).collect()) == state0
    assert sorted(tuple(r) for r in t.read().collect()) == state1


def test_time_travel_sees_old_schema(spark, tmpdir_path):
    t = _bootstrap(spark, os.path.join(tmpdir_path, "t"))
    v_boot = t.current_version()
    t.update_schema({"action": "add", "column": "stars", "type": "long"}, schema_lsn=999)
    assert "stars" in [f.name for f in t.schema.fields]
    old_cols = t.read(version=v_boot).columns
    assert "stars" not in old_cols


def _changes(t, since):
    return {
        (r["repo"], r["path"]): (r["op"], r["lsn"], r["content"])
        for r in t.read_changes(since).collect()
    }


def test_read_changes_exact_for_cow_and_mor(spark, tmpdir_path):
    for mode in ("cow", "mor"):
        t = _bootstrap(spark, os.path.join(tmpdir_path, f"t-{mode}"))
        v0 = t.current_version()
        e1 = spark.createDataFrame(
            [
                (10, None, "I", "org/a", "x.py", "c1", "py", "v1", None),
                (11, None, "U", "org/a", "y.py", "c1", "py", "w1", None),
            ],
            EVENT_DDL,
        ).withColumn("ts", F.timestamp_seconds(F.lit(1_767_225_700)))
        apply_batch(t, e1, run_id=mode, epoch=0, merge_mode=mode)
        v1 = t.current_version()
        e2 = spark.createDataFrame(
            [
                (20, None, "U", "org/a", "x.py", "c2", "py", "v2", None),   # update
                (21, None, "D", "org/a", "y.py", None, None, None, None),   # delete
                (22, None, "I", "org/a", "z.py", "c2", "py", "z1", None),   # insert
            ],
            EVENT_DDL,
        ).withColumn("ts", F.timestamp_seconds(F.lit(1_767_225_800)))
        apply_batch(t, e2, run_id=mode, epoch=1, merge_mode=mode)

        got2 = _changes(t, v1)
        assert got2 == {
            ("org/a", "x.py"): ("U", 20, "v2"),
            ("org/a", "y.py"): ("D", 21, None),
            ("org/a", "z.py"): ("U", 22, "z1"),
        }, (mode, got2)

        # from bootstrap: both epochs' net effect, bootstrap rows excluded
        got1 = _changes(t, v0)
        assert got1 == got2 | {("org/a", "y.py"): ("D", 21, None)} or set(got1) == {
            ("org/a", "x.py"), ("org/a", "y.py"), ("org/a", "z.py")
        }
        assert got1[("org/a", "x.py")] == ("U", 20, "v2")


def test_read_changes_survives_compaction(spark, tmpdir_path):
    t = _bootstrap(spark, os.path.join(tmpdir_path, "t"))
    e1 = spark.createDataFrame(
        [(10, None, "I", "org/a", "x.py", "c1", "py", "v1", None)], EVENT_DDL
    ).withColumn("ts", F.timestamp_seconds(F.lit(1_767_225_700)))
    apply_batch(t, e1, run_id="c", epoch=0, merge_mode="mor")
    v1 = t.current_version()
    e2 = spark.createDataFrame(
        [(20, None, "U", "org/a", "x.py", "c2", "py", "v2", None)], EVENT_DDL
    ).withColumn("ts", F.timestamp_seconds(F.lit(1_767_225_800)))
    apply_batch(t, e2, run_id="c", epoch=1, merge_mode="mor")
    t.compact()  # folds deltas, re-adds old rows to new files
    got = _changes(t, v1)
    # compaction re-added v1-era rows to new files, but the LSN watermark
    # keeps the change feed exact
    assert got == {("org/a", "x.py"): ("U", 20, "v2")}


def test_chained_replay_via_read_changes(spark, tmpdir_path):
    """Engine-to-engine chaining: downstream table fed ONLY by the upstream
    table's change feed converges to the same state."""
    up = _bootstrap(spark, os.path.join(tmpdir_path, "up"), n_base=50)
    down = LakeTable.create(
        spark, os.path.join(tmpdir_path, "down"), REPO_FILES_SCHEMA,
        key_columns=["repo", "path"], n_buckets=8,
    )
    # seed downstream from upstream's bootstrap state
    down.append(up.read().withColumn("_lsn", F.lit(0)))
    v = up.current_version()
    for epoch in range(2):
        # real WALs have monotone LSNs across time — offset epoch 1 past
        # epoch 0's range (read_changes' watermark contract)
        ev = gen_change_events(spark, 50, 150, seed=20 + epoch).withColumn(
            "lsn", F.col("lsn") + F.lit(epoch * 1_000_000)
        )
        apply_batch(up, ev, run_id="up", epoch=epoch)
        # the feed carries the full event envelope — no column surgery needed
        apply_batch(down, up.read_changes(v), run_id="down", epoch=epoch)
        v = up.current_version()
    a = sorted(tuple(r) for r in up.read().collect())
    b = sorted(tuple(r) for r in down.read().collect())
    assert a == b and len(a) > 0


def test_read_changes_raises_after_tombstone_purge(spark, tmpdir_path):
    """A purging compaction between since_version and the read erases the
    tombstone rows 'D' events derive from — the feed must refuse to return
    a silently delete-less answer."""
    import os

    import pytest
    from pyspark.sql import functions as F

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "purged"),
        [("k", "long"), ("v", "string")], key_columns=["k"], n_buckets=2,
    )
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
             .withColumn("_lsn", F.lit(1)))
    v0 = t.current_version()
    # delete k=2 (tombstone), then purge tombstones
    t.append(spark.createDataFrame([(2, None)], "k long, v string")
             .withColumn("_lsn", F.lit(5)).withColumn("_deleted", F.lit(True)),
             commit={"run_id": "r", "epoch": 0, "seq": -1, "lsn_min": 5, "lsn_max": 5})
    t.compact(purge_tombstones=True)
    with pytest.raises(ValueError, match="tombstone"):
        t.read_changes(since_version=v0)
    # non-purging compaction keeps the feed readable (existing guarantee)
    assert t.read_changes(since_version=t.current_version()).count() == 0


def test_manifest_lsn_stats_prune_compaction_rewrites(spark, tmpdir_path):
    """File manifests carry footer-derived _lsn min/max; read_changes skips
    compaction-rewritten files whose lsn_max is under the watermark WITHOUT
    scanning them (manifest-level data skipping, the Iceberg stats analogue)."""
    import os

    from pyspark.sql import functions as F

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "stats"),
        [("k", "long"), ("v", "string")], key_columns=["k"], n_buckets=2,
    )
    t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        .withColumn("_lsn", F.xxhash64("k") % 5 + 10),
        commit={"run_id": "r", "epoch": 0, "seq": -1, "lsn_min": 6, "lsn_max": 14},
    )
    ent = t.files()
    assert all(e["lsn_min"] is not None and e["lsn_max"] >= e["lsn_min"] for e in ent)
    v_applied = t.current_version()

    # fragment then compact (no purge): re-added files carry old lsn ranges
    t.append(
        spark.createDataFrame([(3, "c")], "k long, v string").withColumn("_lsn", F.lit(20)),
        commit={"run_id": "r", "epoch": 1, "seq": -1, "lsn_min": 20, "lsn_max": 20},
    )
    v_before_compact = t.current_version()
    t.compact()
    # nothing committed since v_before_compact except the rewrite → zero
    # candidate files → the feed plans an EMPTY relation, no parquet scan
    feed = t.read_changes(since_version=v_before_compact)
    assert feed.count() == 0
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        feed.explain()
    assert "FileScan" not in buf.getvalue()
    # and the feed from before the second append is still exact
    rows = {r["k"]: r["op"] for r in t.read_changes(since_version=v_applied).collect()}
    assert rows == {3: "U"}


# ---------------------------------------------------------------------------
# rollback: non-destructive undo that re-opens the undone epochs
# ---------------------------------------------------------------------------
def test_rollback_restores_state_and_reopens_epochs(spark, tmpdir_path):
    t = _bootstrap(spark, os.path.join(tmpdir_path, "rb"))
    ev = gen_change_events(spark, 100, 400, seed=7).cache()
    good = ev.filter(F.col("lsn") <= 200)
    bad = ev.filter(F.col("lsn") > 200)

    apply_batch(t, good, run_id="rb", epoch=0)
    v_good = t.current_version()
    state_good = sorted(tuple(r) for r in t.read().collect())
    hwm_good = t.high_lsn()

    apply_batch(t, bad, run_id="rb", epoch=1)
    state_bad = sorted(tuple(r) for r in t.read().collect())
    assert state_bad != state_good

    res = t.rollback(v_good)
    assert res["rolled_back_to"] == v_good
    # data state equals the target version's, via a NEW snapshot
    assert sorted(tuple(r) for r in t.read().collect()) == state_good
    assert t.current_version() > v_good
    # time travel to the undone state still works (nothing destroyed)
    assert sorted(tuple(r) for r in t.read(version=res["rolled_back_from"]).collect()) == state_bad
    # the exactly-once registry re-opened the undone epoch and kept the good
    # one (single-merge epochs commit under the epoch-done seq)
    from embulk_filter_copy_spark.cdc.apply import EPOCH_DONE_SEQ

    assert t.has_commit("rb", 0, EPOCH_DONE_SEQ)
    assert not t.has_commit("rb", 1, EPOCH_DONE_SEQ)
    # the LSN watermark regressed with it
    assert t.high_lsn() == hwm_good

    # replaying the (now corrected) epoch through the normal idempotent path
    # converges back: final state equals the never-rolled-back state
    apply_batch(t, bad, run_id="rb", epoch=1)
    assert sorted(tuple(r) for r in t.read().collect()) == state_bad
    ev.unpersist()


def test_rollback_rejects_non_earlier_versions(spark, tmpdir_path):
    import pytest

    t = _bootstrap(spark, os.path.join(tmpdir_path, "rbv"))
    cur = t.current_version()
    for bad in (cur, cur + 5, 0, -1):
        with pytest.raises(ValueError, match="earlier version"):
            t.rollback(bad)


def test_rollback_restores_schema_pointer(spark, tmpdir_path):
    t = _bootstrap(spark, os.path.join(tmpdir_path, "rbs"))
    v0 = t.current_version()
    t.update_schema({"action": "add", "column": "stars", "type": "long"}, schema_lsn=50)
    assert "stars" in [f.name for f in t.schema.fields]

    t.rollback(v0)
    assert "stars" not in [f.name for f in t.schema.fields]
    # schema evolution continues cleanly after the rollback (no collision
    # with the rolled-back schema version)
    assert t.update_schema({"action": "add", "column": "forks", "type": "long"}, schema_lsn=60)
    cols = [f.name for f in t.schema.fields]
    assert "forks" in cols and "stars" not in cols
    assert t.read().count() == 100


def test_read_changes_refuses_to_cross_rollback(spark, tmpdir_path):
    import pytest

    t = _bootstrap(spark, os.path.join(tmpdir_path, "rbc"))
    v0 = t.current_version()
    ev = gen_change_events(spark, 100, 200, seed=9)
    apply_batch(t, ev, run_id="rbc", epoch=0)
    v1 = t.current_version()
    t.rollback(v0)
    v_rb = t.current_version()

    # a feed whose since lies above the rollback's target would hand the
    # consumer already-seen state as fresh changes — refuse
    with pytest.raises(ValueError, match="rolled back"):
        t.read_changes(v1).count()
    # from the rollback point forward the feed is exact again
    assert t.read_changes(v_rb).count() == 0
    apply_batch(t, ev.filter(F.col("lsn") <= 50), run_id="rbc2", epoch=0)
    assert t.read_changes(v_rb).count() > 0


def _feed(t, since, version=None):
    return sorted(tuple(r) for r in t.read_changes(since, version=version).collect())


def test_read_changes_after_a_rollback_to_since_is_empty(spark, tmpdir_path):
    t = _bootstrap(spark, os.path.join(tmpdir_path, "rb0"))
    v0 = t.current_version()
    apply_batch(t, gen_change_events(spark, 100, 200, seed=9), run_id="rb", epoch=0)
    t.rollback(v0)
    assert _feed(t, v0) == []


def test_read_changes_after_a_rollback_above_since_keeps_the_survivors(spark, tmpdir_path):
    """A rollback to a version after since only undid versions the consumer
    never saw: the feed is the one over the surviving history."""
    t = _bootstrap(spark, os.path.join(tmpdir_path, "rb1"))
    v0 = t.current_version()
    ev = gen_change_events(spark, 100, 200, seed=9)
    apply_batch(t, ev.filter(F.col("lsn") <= 100), run_id="rb", epoch=0)
    v1 = t.current_version()
    apply_batch(t, ev.filter(F.col("lsn") > 100), run_id="rb", epoch=1)
    t.rollback(v1)
    survivors = _feed(t, v0, version=v1)
    assert survivors and _feed(t, v0) == survivors


def test_read_changes_after_a_rollback_below_since_raises(spark, tmpdir_path):
    import pytest

    t = _bootstrap(spark, os.path.join(tmpdir_path, "rb2"))
    v0 = t.current_version()
    ev = gen_change_events(spark, 100, 200, seed=9)
    apply_batch(t, ev.filter(F.col("lsn") <= 100), run_id="rb", epoch=0)
    v1 = t.current_version()
    apply_batch(t, ev.filter(F.col("lsn") > 100), run_id="rb", epoch=1)
    t.rollback(v0)
    with pytest.raises(ValueError, match="rolled back"):
        t.read_changes(v1)


# ---------------------------------------------------------------------------
# changelog: pre/post-image view over the net change feed
# ---------------------------------------------------------------------------
def _ev_rows(spark, rows):
    """rows: (lsn, op, repo, path, content)"""
    import datetime

    data = [
        (
            lsn,
            datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=lsn),
            op,
            repo,
            path,
            f"c{lsn}",
            "py",
            content,
            None,
        )
        for (lsn, op, repo, path, content) in rows
    ]
    return spark.createDataFrame(data, EVENT_DDL)


def test_changelog_classifies_and_carries_images(spark, tmpdir_path):
    t = _bootstrap(spark, os.path.join(tmpdir_path, "clog"), n_base=20)
    base = {(r["repo"], r["path"]): r["content"] for r in t.read().collect()}
    (ka, kb) = sorted(base)[:2]
    v_since = t.current_version()

    apply_batch(
        t,
        _ev_rows(
            spark,
            [
                (101, "U", ka[0], ka[1], "updated-a"),       # U: existing key
                (102, "D", kb[0], kb[1], None),               # D: existing key
                (103, "I", "new/repo", "c.py", "created-c"),  # I: new key
                (104, "I", "new/repo", "d.py", "ephemeral"),  # I+D inside the
                (105, "D", "new/repo", "d.py", None),         #   window: omitted
                (106, "I", "new/repo", "e.py", "created-e1"),
                (107, "U", "new/repo", "e.py", "created-e2"), # I then U: one 'I'
            ],
        ),
        run_id="clog",
        epoch=0,
    )
    log = {
        (r["repo"], r["path"]): r
        for r in t.changelog(v_since).collect()
    }
    assert set(log) == {ka, kb, ("new/repo", "c.py"), ("new/repo", "e.py")}
    assert log[ka]["op"] == "U"
    assert log[ka]["before_content"] == base[ka]
    assert log[ka]["after_content"] == "updated-a"
    assert log[ka]["lsn"] == 101
    assert log[kb]["op"] == "D"
    assert log[kb]["before_content"] == base[kb]
    assert log[kb]["after_content"] is None
    c = log[("new/repo", "c.py")]
    assert c["op"] == "I" and c["before_content"] is None and c["after_content"] == "created-c"
    e = log[("new/repo", "e.py")]
    # net feed: created-then-updated inside the window is ONE insert at the
    # final image and the final lsn
    assert e["op"] == "I" and e["after_content"] == "created-e2" and e["lsn"] == 107


def test_changelog_spans_schema_evolution(spark, tmpdir_path):
    t = _bootstrap(spark, os.path.join(tmpdir_path, "clogs"), n_base=10)
    ka = sorted((r["repo"], r["path"]) for r in t.read().collect())[0]
    v_since = t.current_version()
    # rename an existing column between the two versions: the changelog must
    # come out uniformly in TODAY's names (field-id projection of the old scan)
    t.update_schema({"action": "rename", "from": "content", "to": "body"}, schema_lsn=90)
    apply_batch(
        t,
        _ev_rows(spark, [(201, "U", ka[0], ka[1], "post-rename")]).withColumnRenamed(
            "content", "body"
        ),
        run_id="clogs",
        epoch=0,
    )
    rows = t.changelog(v_since).collect()
    assert len(rows) == 1
    r = rows[0]
    assert "before_body" in r.asDict() and "after_body" in r.asDict()
    assert r["op"] == "U" and r["after_body"] == "post-rename"
    assert r["before_body"] is not None  # the old column's value, new name


def test_changelog_window_pins_the_end_version(spark, tmpdir_path):
    """changelog(since, version=until) reads between two HISTORICAL
    snapshots — audit replay of any past window."""
    t = _bootstrap(spark, os.path.join(tmpdir_path, "clogw"), n_base=10)
    v0 = t.current_version()
    ka = sorted((r["repo"], r["path"]) for r in t.read().collect())[0]
    apply_batch(t, _ev_rows(spark, [(301, "U", ka[0], ka[1], "mid")]),
                run_id="w", epoch=0)
    v1 = t.current_version()
    apply_batch(t, _ev_rows(spark, [(302, "U", ka[0], ka[1], "end")]),
                run_id="w", epoch=1)

    win = t.changelog(v0, version=v1).collect()
    assert len(win) == 1 and win[0]["after_content"] == "mid"
    full = t.changelog(v0).collect()
    assert len(full) == 1 and full[0]["after_content"] == "end"


def test_changelog_refuses_a_bucket_spec_change_inside_the_window(spark, tmpdir_path):
    """Before-images are read by the END spec's bucket ids; across a
    rescale those miss the key's old row and an update came back as an
    insert with no before-image. The window must raise instead."""
    import pytest

    t = _bootstrap(spark, os.path.join(tmpdir_path, "clogr"), n_base=20)
    ka = sorted((r["repo"], r["path"]) for r in t.read().collect())[0]
    v_since = t.current_version()
    t.rescale_buckets(5)
    v_rescaled = t.current_version()
    apply_batch(t, _ev_rows(spark, [(401, "U", ka[0], ka[1], "after-rescale")]),
                run_id="rs", epoch=0)
    with pytest.raises(ValueError, match="bucket spec"):
        t.changelog(v_since)
    # a window that opens after the rescale sees the update as an update
    (r,) = t.changelog(v_rescaled).collect()
    assert r["op"] == "U" and r["before_content"] is not None


def test_changelog_matches_null_keys_like_the_merge(spark, tmpdir_path):
    """The merge matches keys null-safe, so a NULL key is one row; the
    changelog must pair its before-image the same way — an update is 'U'
    (not 'I') and a delete is 'D' (not dropped)."""
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "nullk"), REPO_FILES_SCHEMA,
        key_columns=["repo", "path"], n_buckets=4,
    )
    apply_batch(t, _ev_rows(spark, [(1, "I", None, "a.py", "v1")]), run_id="n", epoch=0)
    v1 = t.current_version()
    apply_batch(t, _ev_rows(spark, [(2, "U", None, "a.py", "v2")]), run_id="n", epoch=1)
    v2 = t.current_version()
    (u,) = t.changelog(v1).collect()
    assert (u["repo"], u["path"], u["op"]) == (None, "a.py", "U")
    assert (u["before_content"], u["after_content"]) == ("v1", "v2")
    apply_batch(t, _ev_rows(spark, [(3, "D", None, "a.py", None)]), run_id="n", epoch=2)
    (d,) = t.changelog(v2).collect()
    assert (d["repo"], d["op"], d["before_content"], d["after_content"]) == (None, "D", "v2", None)
