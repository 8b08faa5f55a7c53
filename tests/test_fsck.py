"""fsck consistency audit + bucket-pruned point lookup."""

import json
import os

import pytest
from pyspark.sql import functions as F

from embulk_filter_copy_spark import cli
from embulk_filter_copy_spark.cdc.apply import apply_batch
from embulk_filter_copy_spark.fixtures import (
    REPO_FILES_SCHEMA,
    gen_change_events,
    gen_repo_files,
)
from embulk_filter_copy_spark.lake.fsck import fsck
from embulk_filter_copy_spark.lake.table import TAIL_COMMITS, CommitConflict, LakeTable


def _bootstrap(spark, path, n_base=80, merge_mode="cow"):
    t = LakeTable.create(
        spark, path, REPO_FILES_SCHEMA, key_columns=["repo", "path"], n_buckets=8
    )
    t.append(gen_repo_files(spark, n_base, seed=6).withColumn("_lsn", F.lit(0)))
    ev = gen_change_events(spark, n_base, 200, seed=6)
    apply_batch(t, ev, run_id="fsck", epoch=0, merge_mode=merge_mode)
    return t


def _tamper(t, mutate):
    """Break piece immutability on purpose: hand ``mutate`` the CURRENT
    snapshot's flat ``{"files", "commits"}`` view, write its edits back in
    place into the manifest chunks, the log segments and the root's tail
    (a commit ``mutate`` appends lands in the tail), and drop the table's
    caches."""
    snap = t.snapshot()
    flat = json.loads(json.dumps({"files": snap.files(), "commits": snap.commits()}))
    mutate(flat)

    def rewrite(path, body):
        os.remove(path)
        with open(path, "w") as f:
            json.dump(body, f)

    files = iter(flat["files"])
    for _, name in snap.chunk_refs():
        body = snap.piece(name)
        rewrite(t.piece_path(name), dict(body, files=[next(files) for _ in body["files"]]))
    commits = iter(flat["commits"])
    for name in reversed(list(snap.segment_names())):
        body = snap.piece(name)
        rewrite(t.piece_path(name), dict(body, commits=[next(commits) for _ in body["commits"]]))
    rewrite(t._root_path(snap["version"]), dict(snap.root, tail=list(commits)))
    t._pieces.clear()
    t._current = None


def test_fsck_clean_table_is_ok(spark, tmpdir_path):
    t = _bootstrap(spark, os.path.join(tmpdir_path, "ok"))
    # exercise schema evolution + a rename so the by-field-id audit paths run
    t.update_schema({"action": "rename", "from": "content", "to": "body"}, schema_lsn=500)
    rep = fsck(spark, t)
    assert rep["ok"], rep["issues"]
    assert rep["checked"]["deep"] is True


def test_fsck_clean_mor_table_is_ok(spark, tmpdir_path):
    t = _bootstrap(spark, os.path.join(tmpdir_path, "mor"), merge_mode="mor")
    rep = fsck(spark, t)
    # delta files legitimately repeat keys — fsck must not flag them
    assert rep["ok"], rep["issues"]


def test_fsck_detects_missing_file_and_row_count(spark, tmpdir_path):
    t = _bootstrap(spark, os.path.join(tmpdir_path, "bad"))
    files = t.files()
    # delete one data file outright
    os.remove(os.path.join(t.path, files[0]["path"]))
    # lie about another's row count
    victim = files[1]["path"]

    def mutate(snap):
        for f in snap["files"]:
            if f["path"] == victim:
                f["rows"] = f["rows"] + 7

    _tamper(t, mutate)
    rep = fsck(spark, t)
    kinds = {i["kind"] for i in rep["issues"]}
    assert not rep["ok"]
    assert "missing_data_file" in kinds
    assert "row_count_mismatch" in kinds


def test_fsck_detects_bucket_mismatch_and_dup_commit(spark, tmpdir_path):
    t = _bootstrap(spark, os.path.join(tmpdir_path, "bad2"))

    def mutate(snap):
        # claim a file belongs to the wrong bucket: every row now hashes
        # elsewhere — exactly what a stale-rescale mix would look like
        snap["files"][0]["bucket"] = (snap["files"][0]["bucket"] + 1) % 8
        snap["commits"] = snap["commits"] + [dict(snap["commits"][-1])]

    _tamper(t, mutate)
    rep = fsck(spark, t)
    kinds = {i["kind"] for i in rep["issues"]}
    assert "bucket_mismatch" in kinds
    assert "duplicate_commit" in kinds


def test_fsck_detects_duplicate_base_key(spark, tmpdir_path):
    t = _bootstrap(spark, os.path.join(tmpdir_path, "bad3"))
    one = t.read().limit(1)
    # low-level append bypasses the merge: the key now exists in two base
    # files of the same bucket — the copy-on-write invariant broken
    t.append(one.withColumn("_lsn", F.lit(10**9)))
    rep = fsck(spark, t)
    assert any(i["kind"] == "duplicate_key_in_base" for i in rep["issues"])


def test_fsck_flags_missing_and_unparsable_pieces(spark, tmpdir_path):
    t = _bootstrap(spark, os.path.join(tmpdir_path, "pieces"))
    for e in range(2 * TAIL_COMMITS):  # seal two log segments
        t.add_commit({"run_id": "m", "epoch": e, "seq": -1})
    assert fsck(spark, t, deep=False)["ok"]
    snap = t.snapshot()
    ((_, chunk),) = snap.chunk_refs()
    segment = next(snap.segment_names())
    os.remove(t.piece_path(chunk))
    with open(t.piece_path(segment), "w") as f:
        f.write("{not json")
    t._pieces.clear()
    kinds = {i["kind"] for i in fsck(spark, t)["issues"]}
    assert {"missing_manifest_chunk", "unparsable_log_segment"} <= kinds


def test_fsck_flags_an_index_that_disagrees_with_the_commits(spark, tmpdir_path):
    t = _bootstrap(spark, os.path.join(tmpdir_path, "idx"))
    snap = t.snapshot()
    root = dict(snap.root, index={}, high_lsn=snap.root["high_lsn"] + 1)
    with open(t._root_path(snap["version"]), "w") as f:
        json.dump(root, f)
    t._current = None
    kinds = {i["kind"] for i in fsck(spark, t, deep=False)["issues"]}
    assert {"index_mismatch", "high_lsn_mismatch"} <= kinds


def test_aborted_commit_leaves_only_pieces_the_sweep_removes(spark, tmpdir_path):
    """Pieces are written before the root: a committer that loses the
    version race has put its chunk and segment on disk, but no root names
    them — the table is unchanged and the orphan sweep collects them."""
    t = _bootstrap(spark, os.path.join(tmpdir_path, "abort"))
    state = sorted(tuple(r) for r in t.read().collect())
    loser = t._next_snapshot()
    loser.set_files([dict(t.files()[0], path="data/never/written.parquet")])
    for e in range(TAIL_COMMITS + 1):
        loser.append_commit({"run_id": "lost", "epoch": e})
    LakeTable.load(spark, t.path).add_commit({"run_id": "won", "epoch": 0})
    with pytest.raises(CommitConflict):
        t._write_snapshot(loser)
    staged = [t.piece_path(n) for n in loser.pending]
    assert len(staged) == 2 and all(os.path.exists(p) for p in staged)
    assert sorted(tuple(r) for r in t.read().collect()) == state
    assert t.has_commit("won", 0) and not t.has_commit("lost", 0)
    assert fsck(spark, t)["ok"]
    # inside the grace window the pieces could be an in-flight commit's
    assert t.expire_snapshots(keep_last=100, sweep_orphans=True)["pieces_swept"] == 0
    res = t.expire_snapshots(keep_last=100, sweep_orphans=True, orphan_grace_seconds=0)
    assert res["pieces_swept"] == 2 and not any(os.path.exists(p) for p in staged)
    assert sorted(tuple(r) for r in t.read().collect()) == state
    assert fsck(spark, t)["ok"]


# ---------------------------------------------------------------------------
def test_lookup_prunes_to_one_bucket(spark, tmpdir_path):
    t = _bootstrap(spark, os.path.join(tmpdir_path, "lk"))
    row = t.read().first()
    key = {"repo": row["repo"], "path": row["path"]}
    got = t.lookup(key).collect()
    assert len(got) == 1 and got[0]["content"] == row["content"]

    # pruning: the lookup's snapshot scan planned only ONE bucket's files
    bucket = int(
        spark.range(1).select(
            F.pmod(F.xxhash64(F.lit(key["repo"]), F.lit(key["path"])), F.lit(8)).alias("b")
        ).first()["b"]
    )
    assert len(t.files([bucket])) < len(t.files())

    with pytest.raises(ValueError, match="bucket column"):
        t.lookup({"repo": row["repo"]})

    # absent key: empty, still single-bucket work
    assert t.lookup({"repo": "no/such", "path": "nope.py"}).count() == 0


def test_lookup_casts_literals_to_the_key_type(spark, tmpdir_path, capsys):
    """A literal hashes by its own type: an int ``7`` probing a ``long``
    key picked the wrong bucket. Library and CLI lookups cast to the
    declared type first."""
    cases = [
        ("long", [(7, "a"), (8, "b")], 7, "7"),
        ("double", [(1.0, "a"), (2.5, "b")], 1, "1.0"),
        ("boolean", [(True, "a"), (False, "b")], True, "true"),
    ]
    for type_, rows, probe, cli_value in cases:
        path = os.path.join(tmpdir_path, f"lk-{type_}")
        t = LakeTable.create(spark, path, [("k", type_), ("v", "string")],
                             key_columns=["k"], n_buckets=8)
        t.append(spark.createDataFrame(rows, f"k {type_}, v string")
                 .withColumn("_lsn", F.lit(1)))
        assert [r["v"] for r in t.lookup({"k": probe}).collect()] == ["a"], type_
        cli.main(["lookup", "--table", path, "--key", f"k={cli_value}"])
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert [r["v"] for r in out] == ["a"], type_
    with pytest.raises(SystemExit, match="not in the table"):
        cli.main(["lookup", "--table", path, "--key", "k=true", "--key", "nope=1"])


# ---------------------------------------------------------------------------
def test_rebucket_by_new_columns(spark, tmpdir_path):
    """Partition-spec evolution: rebucket a (repo, path)-keyed table by
    (repo) alone — state identical, lookups prune on repo only, and fsck
    verifies every row's placement under the NEW spec."""
    import pytest

    t = _bootstrap(spark, os.path.join(tmpdir_path, "rb"))
    before = sorted(tuple(r) for r in t.read().collect())

    res = t.rescale_buckets(new_n_buckets=4, new_bucket_columns=["repo"])
    assert res["bucket_columns"] == ["repo"] and res["n_buckets"] == 4
    assert t.bucket_columns == ["repo"] and t.n_buckets == 4
    assert sorted(tuple(r) for r in t.read().collect()) == before

    # the whole point: per-repo access now needs only the repo
    row = t.read().first()
    got = t.lookup({"repo": row["repo"], "path": row["path"]}).collect()
    assert len(got) == 1

    # fsck re-derives every row's bucket under the NEW spec — all placed
    rep = fsck(spark, t)
    assert rep["ok"], rep["issues"]

    # merges keep working against the new spec
    ev = gen_change_events(spark, 80, 60, seed=7).withColumn(
        "lsn", F.col("lsn") + F.lit(10**6)
    )
    apply_batch(t, ev, run_id="fsck", epoch=1)
    assert fsck(spark, t)["ok"]

    with pytest.raises(ValueError, match="subset of key columns"):
        t.rescale_buckets(new_bucket_columns=["lang"])
    with pytest.raises(ValueError, match="give new_n_buckets"):
        t.rescale_buckets()
