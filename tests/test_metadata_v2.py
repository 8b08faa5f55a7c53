"""Format-v2 snapshot metadata: a small root over immutable manifest chunks
and commit-log segments. Bounded commit cost is pinned with byte and
file-open counts, not timings."""

import builtins
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from embulk_filter_copy_spark.lake.fsck import fsck
from embulk_filter_copy_spark.lake.table import (
    TAIL_COMMITS,
    LakeTable,
    _index_add,
    _index_has,
)


def _entry(i: int, bucket: int) -> dict:
    return {"path": f"data/seed/_bucket={bucket}/part-{i}.parquet", "bucket": bucket,
            "rows": 1, "schema_version": 1, "lsn_min": 0, "lsn_max": 0}


def _meta_table(path, n_files, n_commits, n_buckets=64):
    """Metadata only (no Spark, no data files): ``n_files`` entries over
    ``n_buckets`` buckets and ``n_commits`` epoch markers, seeded in one
    commit."""
    t = LakeTable.create(None, path, [("k", "long")], key_columns=["k"], n_buckets=n_buckets)
    snap = t._next_snapshot()
    snap.set_files([_entry(i, i % n_buckets) for i in range(n_files)])
    for e in range(n_commits):
        snap.append_commit({"run_id": "r", "epoch": e, "seq": -1, "lsn_max": e + 1})
    t._write_snapshot(snap)
    return t


def _meta_bytes(t) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(t._meta_dir) for f in fs
    )


def _bytes_of_one_commit(t, epoch) -> int:
    before = _meta_bytes(t)
    t.add_commit({"run_id": "r", "epoch": epoch, "seq": -1, "lsn_max": epoch + 1})
    return _meta_bytes(t) - before


def test_index_keeps_closed_epoch_ranges():
    idx = {}
    for e in (5, 3, 4, 10, 12, 11, 4):
        idx = _index_add(idx, "run", e, 0)
    assert idx == {"run": {"0": [[3, 5], [10, 12]]}}
    assert all(_index_has(idx, "run", e, 0) for e in (3, 4, 5, 10, 11, 12))
    assert not any(_index_has(idx, "run", e, 0) for e in (2, 6, 9, 13))
    assert not _index_has(idx, "run", 4, 1) and not _index_has(idx, "other", 4, 0)
    # copy-on-write: an add never edits the index it was given
    before = json.dumps(idx)
    _index_add(idx, "run", 7, 0)
    assert json.dumps(idx) == before


def test_commit_bytes_do_not_grow_with_history_or_file_count(tmpdir_path):
    # same tail phase (prior % TAIL_COMMITS) so neither commit seals a segment
    short, long_ = 50, 50 + 30 * TAIL_COMMITS
    b_short = _bytes_of_one_commit(_meta_table(os.path.join(tmpdir_path, "s"), 64, short), short)
    b_long = _bytes_of_one_commit(_meta_table(os.path.join(tmpdir_path, "l"), 64, long_), long_)
    # only digit counts differ (epochs, LSNs, the sealed count)
    assert abs(b_long - b_short) <= 128, (b_short, b_long)
    b_few = b_short
    b_many = _bytes_of_one_commit(_meta_table(os.path.join(tmpdir_path, "f"), 4096, short), short)
    assert abs(b_many - b_few) <= 16, (b_few, b_many)
    # the root stays a few KB: the tail, the index and one ref per chunk
    assert b_long < 8192


def test_commit_hot_path_opens_no_chunk_and_no_segment(tmpdir_path, monkeypatch):
    path = os.path.join(tmpdir_path, "hot")
    _meta_table(path, 256, 100, n_buckets=256)
    pieces = tuple(os.path.join(path, "_meta", d) for d in ("manifests", "log"))
    reads, creates = [], []
    real_open, real_os_open = builtins.open, os.open

    def rec_open(f, *a, **k):
        reads.append(str(f))
        return real_open(f, *a, **k)

    def rec_os_open(f, *a, **k):
        creates.append(str(f))
        return real_os_open(f, *a, **k)

    monkeypatch.setattr(builtins, "open", rec_open)
    monkeypatch.setattr(os, "open", rec_os_open)
    epochs = range(100, 100 + 2 * TAIL_COMMITS)
    for e in epochs:
        t = LakeTable.load(None, path)
        assert not t.has_commit("r", e, -1)
        t.add_commit({"run_id": "r", "epoch": e, "seq": -1})
    monkeypatch.undo()
    assert reads and not [p for p in reads if p.startswith(pieces)]
    # writes: the root each time, plus one segment per filled tail
    assert not [p for p in creates if p.startswith(pieces[0])]
    assert len([p for p in creates if p.startswith(pieces[1])]) == 2
    t = LakeTable.load(None, path)
    assert all(t.has_commit("r", e, -1) for e in range(100 + 2 * TAIL_COMMITS))
    assert [c["epoch"] for c in t.commits()] == list(range(100 + 2 * TAIL_COMMITS))


def test_expire_deletes_pieces_only_expired_roots_reference(tmpdir_path):
    path = os.path.join(tmpdir_path, "exp")
    t = LakeTable.create(None, path, [("k", "long")], key_columns=["k"], n_buckets=128)
    for e in range(6):  # each rewrite of bucket 0 replaces chunk 0
        d = t._next_snapshot()
        d.set_files([_entry(e, 0)], drop_buckets=[0])
        d.append_commit({"run_id": "r", "epoch": e, "seq": -1})
        t._write_snapshot(d)
    for e in range(6, 6 + 2 * TAIL_COMMITS):
        t.add_commit({"run_id": "r", "epoch": e, "seq": -1})
    res = t.expire_snapshots(keep_last=3)
    assert res["pieces_deleted"] == 5  # every chunk-0 version but the live one
    fresh = LakeTable.load(None, path)
    for v in range(res["horizon"], fresh.current_version() + 1):
        snap = fresh.snapshot_at(v)
        assert [f["path"] for f in snap.files()] == [_entry(5, 0)["path"]]
        assert len(snap.commits()) == 6 + 2 * TAIL_COMMITS - (fresh.current_version() - v)


def test_format_v1_table_loads_reads_and_upgrades_on_commit(spark, tmpdir_path):
    src = LakeTable.create(
        spark, os.path.join(tmpdir_path, "src"), [("k", "long"), ("v", "string")],
        key_columns=["k"], n_buckets=4,
    )
    src.append(spark.createDataFrame([(i, f"v{i}") for i in range(20)], "k long, v string")
               .withColumn("_lsn", F.lit(5)))
    path = os.path.join(tmpdir_path, "v1")
    shutil.copytree(os.path.join(src.path, "data"), os.path.join(path, "data"))
    os.makedirs(os.path.join(path, "_meta"))
    common = {"format_version": 1, "key_columns": ["k"], "bucket_columns": ["k"],
              "n_buckets": 4, "schema_version": 1, "schemas": src.snapshot()["schemas"],
              "schema_lsn": -1}
    commits = [
        {"run_id": "__bootstrap__", "epoch": 0, "lsn_min": 5, "lsn_max": 5,
         "ts_max": 100.0, "committed_at": 1.0},
        # a purging compaction that started at v1 and committed v2
        {"run_id": "__compaction__", "epoch": 1, "seq": 0, "purged_tombstones": True,
         "committed_at": 2.0},
    ]
    roots = [
        dict(common, version=1, parent=None, files=[], commits=[]),
        dict(common, version=2, parent=1, files=src.files(), commits=commits),
    ]
    for r in roots:
        with open(os.path.join(path, "_meta", f"v{r['version']:08d}.json"), "w") as f:
            json.dump(r, f)
    with open(os.path.join(path, "_meta", "CURRENT"), "w") as f:
        f.write("2")

    t = LakeTable.load(spark, path)
    state = sorted(tuple(r) for r in t.read().collect())
    assert len(state) == 20 and t.read(version=1).count() == 0
    assert t.commits() == commits and t.high_lsn() == 5 and t.high_ts() == 100.0
    assert t.has_commit("__bootstrap__", 0) and not t.has_commit("__bootstrap__", 1)
    with pytest.raises(ValueError, match="purging"):
        t.read_changes(1)
    assert t.read_changes(2).count() == 0

    t.add_commit({"run_id": "r", "epoch": 0, "seq": -1})
    with open(os.path.join(path, "_meta", "v00000003.json")) as f:
        root = json.load(f)
    assert root["format_version"] == 2 and "files" not in root and "commits" not in root
    fresh = LakeTable.load(spark, path)  # reads only what is on disk
    assert sorted(tuple(r) for r in fresh.read().collect()) == state
    assert fresh.commits()[:-1] == commits and fresh.commits()[-1]["run_id"] == "r"
    assert fresh.high_lsn() == 5
    rep = fsck(spark, fresh)
    assert rep["ok"], rep["issues"]


def test_source_version_reads_the_tail_before_any_segment(tmpdir_path, monkeypatch):
    """A derived table's source version comes from its newest
    ``store_version`` commit: from the root's tail when that commit is
    there, from the sealed segments only once later commits pushed it
    out, and the newest wins over a larger older one."""
    path = os.path.join(tmpdir_path, "view")
    _meta_table(path, 64, 3 * TAIL_COMMITS)  # sealed segments exist
    t = LakeTable.load(None, path)
    assert t.source_version() is None
    t.add_commit({"store_version": 9})
    t.add_commit({"store_version": 4})  # rebuilt after a source rollback
    segments = os.path.join(path, "_meta", "log")
    reads = []
    real_open = builtins.open

    def rec_open(f, *a, **k):
        reads.append(str(f))
        return real_open(f, *a, **k)

    monkeypatch.setattr(builtins, "open", rec_open)
    assert LakeTable.load(None, path).source_version() == 4
    monkeypatch.undo()
    assert reads and not [p for p in reads if p.startswith(segments)]
    # maintenance commits (no store_version) push the record into a segment
    for e in range(TAIL_COMMITS + 1):
        t.add_commit({"run_id": "__compaction__", "epoch": e, "seq": 0})
    assert not any("store_version" in c for c in t.snapshot()["tail"])
    assert LakeTable.load(None, path).source_version() == 4
