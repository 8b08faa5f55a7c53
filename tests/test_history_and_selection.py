"""Semantic tests for the SCD2 history operator and the shard/mixture
selection operators — edge cases the oracle parity suite (cross-engine
equality) can't see."""

import pytest
from pyspark.sql import functions as F

from embulk_filter_copy_spark.cdc.history import scd2_history, snapshot_as_of
from embulk_filter_copy_spark.operators import sampling as SA


# ------------------------------------------------------------- SCD2 history
@pytest.fixture(scope="module")
def changes(spark):
    # key k1: I@1 -> U@3 -> D@5 -> I@7 (reborn); key k2: I@2 only
    rows = [
        ("k1", 1, "I", "a"),
        ("k1", 3, "U", "b"),
        ("k1", 5, "D", None),
        ("k1", 7, "I", "c"),
        ("k2", 2, "I", "x"),
    ]
    return spark.createDataFrame(rows, "k string, lsn long, op string, v string")


def test_scd2_intervals_and_delete_close(changes):
    h = {r["valid_from_lsn"]: r for r in scd2_history(changes, ["k"]).collect()}
    assert set(h) == {1, 3, 7, 2}
    assert h[1]["valid_to_lsn"] == 3 and not h[1]["is_current"]
    # the delete CLOSES version @3 (valid_to = delete's LSN) without a row
    assert h[3]["valid_to_lsn"] == 5 and not h[3]["is_current"]
    assert h[7]["valid_to_lsn"] is None and h[7]["is_current"]
    assert h[2]["valid_to_lsn"] is None and h[2]["is_current"]


def test_scd2_key_deleted_last_has_no_open_version(spark):
    ch = spark.createDataFrame(
        [("k", 1, "I", "a"), ("k", 2, "D", None)],
        "k string, lsn long, op string, v string",
    )
    h = scd2_history(ch, ["k"]).collect()
    assert len(h) == 1 and h[0]["valid_to_lsn"] == 2
    assert not any(r["is_current"] for r in h)


def test_snapshot_as_of_matches_point_in_time(changes):
    h = scd2_history(changes, ["k"])
    # at LSN 4: k1 at version @3 (value b), k2 at @2
    s4 = {r["k"]: r["v"] for r in snapshot_as_of(h, 4).collect()}
    assert s4 == {"k1": "b", "k2": "x"}
    # at LSN 5 (delete applied, exclusive-to): k1 absent
    s5 = {r["k"]: r["v"] for r in snapshot_as_of(h, 5).collect()}
    assert s5 == {"k2": "x"}
    # at LSN 7: k1 reborn
    s7 = {r["k"]: r["v"] for r in snapshot_as_of(h, 7).collect()}
    assert s7 == {"k1": "c", "k2": "x"}


def test_scd2_requires_keys(changes):
    with pytest.raises(ValueError):
        scd2_history(changes, [])


# ------------------------------------------- incremental history (LakeTable)
@pytest.fixture()
def hist_table(spark, tmp_path):
    from embulk_filter_copy_spark.cdc.history import create_history_table

    return create_history_table(
        spark,
        str(tmp_path / "h"),
        [("k", "string"), ("v", "string")],
        key_cols=["k"],
        n_buckets=4,
    )


def test_incremental_history_matches_batch_operator(spark, hist_table, changes):
    from embulk_filter_copy_spark.cdc.history import (
        apply_history_batch,
        read_history,
    )

    # epoch 0: LSN 1-3, epoch 1: LSN 5-7 (delete @5 crosses the boundary)
    ch = changes.withColumnRenamed("k", "k")
    e0 = ch.filter("lsn <= 3")
    e1 = ch.filter("lsn > 3")
    r0 = apply_history_batch(hist_table, e0, run_id="r", epoch=0)
    r1 = apply_history_batch(hist_table, e1, run_id="r", epoch=1)
    assert not r0["skipped"] and r0["rows_appended"] == 3
    assert not r1["skipped"] and r1["rows_appended"] == 2

    inc = read_history(hist_table).select(
        "k", "v", "valid_from_lsn", "valid_to_lsn", "is_current"
    )
    batch = scd2_history(ch, ["k"]).select(
        "k", "v", "valid_from_lsn", "valid_to_lsn", "is_current"
    )
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, batch.collect()))
    # the cross-epoch close: version @3 (epoch 0) closed by delete @5 (epoch 1)
    got = {r["valid_from_lsn"]: r for r in inc.collect()}
    assert got[3]["valid_to_lsn"] == 5 and not got[3]["is_current"]


def test_incremental_history_epoch_replay_idempotent(spark, hist_table, changes):
    from embulk_filter_copy_spark.cdc.history import (
        apply_history_batch,
        read_history,
    )

    apply_history_batch(hist_table, changes, run_id="r", epoch=0)
    n1 = read_history(hist_table).count()
    ret = apply_history_batch(hist_table, changes, run_id="r", epoch=0)
    assert ret["skipped"]
    assert read_history(hist_table).count() == n1


def test_incremental_history_dedups_transport_duplicates(spark, hist_table):
    from embulk_filter_copy_spark.cdc.history import (
        apply_history_batch,
        read_history,
    )

    dup = spark.createDataFrame(
        [("k", 1, "I", "a"), ("k", 1, "I", "a"), ("k", 2, "U", "b")],
        "k string, lsn long, op string, v string",
    )
    ret = apply_history_batch(hist_table, dup, run_id="r", epoch=0)
    assert ret["rows_appended"] == 2
    h = {r["valid_from_lsn"]: r for r in read_history(hist_table).collect()}
    assert set(h) == {1, 2} and h[1]["valid_to_lsn"] == 2


def test_history_versions_colocate_in_one_bucket(spark, hist_table, changes):
    from embulk_filter_copy_spark.cdc.history import apply_history_batch

    apply_history_batch(hist_table, changes, run_id="r", epoch=0)
    raw = hist_table.read(include_meta=True)
    per_key = (
        raw.withColumn("_b", hist_table.bucket_expr())
        .groupBy("k")
        .agg(F.count_distinct("_b").alias("nb"))
        .collect()
    )
    assert all(r["nb"] == 1 for r in per_key)
    # _lsn meta carries the version LSN (powers per-file LSN pruning)
    assert raw.filter(F.col("_lsn") != F.col("valid_from_lsn")).count() == 0


def test_bucket_columns_must_be_key_subset(spark, tmp_path):
    from embulk_filter_copy_spark.lake.table import LakeTable

    with pytest.raises(ValueError):
        LakeTable.create(
            spark,
            str(tmp_path / "bad"),
            [("a", "long"), ("b", "long")],
            key_columns=["a"],
            bucket_columns=["b"],
        )
    t = LakeTable.create(
        spark,
        str(tmp_path / "ok"),
        [("a", "long"), ("b", "long")],
        key_columns=["a", "b"],
        bucket_columns=["a"],
    )
    assert t.bucket_columns == ["a"] and t.key_columns == ["a", "b"]


# --------------------------------------------------------- shards / mixture
def test_assign_shards_deterministic_partition(spark):
    df = spark.range(0, 500).select(F.concat(F.lit("d"), "id").alias("k"))
    a = SA.assign_shards(df, "k", 8)
    rows = a.collect()
    # exact partition: every row assigned, shards in range
    assert len(rows) == 500
    assert {r["shard"] for r in rows} <= set(range(8))
    # pos is dense 0..count-1 per shard
    from collections import defaultdict

    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r["shard"]].append(r["pos"])
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(len(ps)))
    # byte-identical on re-run
    again = {(r["k"], r["shard"], r["pos"]) for r in SA.assign_shards(df, "k", 8).collect()}
    assert again == {(r["k"], r["shard"], r["pos"]) for r in rows}
    with pytest.raises(ValueError):
        SA.assign_shards(df, "k", 0)


def test_mixture_sample_rates_and_default(spark):
    df = (
        spark.range(0, 4000)
        .select(
            F.concat(F.lit("d"), "id").alias("doc_id"),
            F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias("grp"),
        )
    )
    out = SA.mixture_sample(
        df, "grp", {"g0": 1.0, "g1": 0.5, "g2": 0.0}, key_col="doc_id",
        default_fraction=0.25,
    )
    counts = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert counts["g0"] == 1000          # keep-all is exact
    assert "g2" not in counts            # drop-all is exact
    assert 400 <= counts["g1"] <= 600    # ~50% of 1000
    assert 150 <= counts.get("g3", 0) <= 350  # default 25% applies to unknown g3
    # deterministic
    assert out.count() == SA.mixture_sample(
        df, "grp", {"g0": 1.0, "g1": 0.5, "g2": 0.0}, key_col="doc_id",
        default_fraction=0.25,
    ).count()
    with pytest.raises(ValueError):
        SA.mixture_sample(df, "grp", {"g0": 1.5}, key_col="doc_id")
    with pytest.raises(ValueError):
        SA.mixture_sample(df, "grp", {"g0": 0.5}, key_col="doc_id", default_fraction=-0.1)


def test_mixture_sample_subset_of_input_and_no_helper_cols(spark):
    df = spark.range(0, 100).select(
        F.concat(F.lit("d"), "id").alias("doc_id"), F.lit("g0").alias("grp")
    )
    out = SA.mixture_sample(df, "grp", {"g0": 0.5}, key_col="doc_id")
    assert out.columns == df.columns


def test_chunk_documents_windows_and_tail(spark):
    df = spark.createDataFrame(
        [(0, "a b c d e f g h i j"), (1, "x y")],  # 10 toks / 2 toks
        "doc_id long, text string",
    )
    out = {(r["doc_id"], r["chunk_idx"]): r
           for r in SA.chunk_documents(df, 4, overlap=2).collect()}
    # doc 0: starts 0,2,4,6 (s <= n-overlap-1 = 7) -> 4 chunks, last short
    d0 = [out[(0, i)] for i in range(4)]
    assert [r["chunk_text"] for r in d0] == [
        "a b c d", "c d e f", "e f g h", "g h i j",
    ]
    assert [r["chunk_n_tokens"] for r in d0] == [4, 4, 4, 4]
    # doc 1 shorter than one chunk: exactly one (short) chunk
    assert (1, 0) in out and out[(1, 0)]["chunk_text"] == "x y"
    assert out[(1, 0)]["chunk_n_tokens"] == 2
    assert len(out) == 5


def test_chunk_documents_no_suffix_chunks_and_coverage(spark):
    # 9 tokens, chunk 4, overlap 2 -> starts 0,2,4,6: last chunk 3 tokens;
    # every token position covered, no chunk is a suffix of its predecessor
    df = spark.createDataFrame([(0, "t0 t1 t2 t3 t4 t5 t6 t7 t8")],
                               "doc_id long, text string")
    rows = sorted(SA.chunk_documents(df, 4, overlap=2).collect(),
                  key=lambda r: r["chunk_idx"])
    covered = set()
    for r in rows:
        s = r["chunk_idx"] * 2
        covered |= set(range(s, s + r["chunk_n_tokens"]))
    assert covered == set(range(9))
    texts = [r["chunk_text"] for r in rows]
    assert all(not texts[i + 1].endswith(texts[i]) or len(texts[i + 1]) > len(texts[i])
               for i in range(len(texts) - 1))


def test_chunk_documents_validation(spark):
    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        SA.chunk_documents(df, 0)
    with pytest.raises(ValueError):
        SA.chunk_documents(df, 4, overlap=4)


def test_history_store_compaction_preserves_view(spark, hist_table, changes):
    """Per-epoch appends fragment the store (one file set per epoch);
    compaction must fold them without disturbing version semantics —
    valid_to derivation depends only on row CONTENT, which compaction
    preserves."""
    from embulk_filter_copy_spark.cdc.history import (
        apply_history_batch,
        read_history,
    )

    for i, flt in enumerate(["lsn <= 2", "lsn in (3, 5)", "lsn > 5"]):
        apply_history_batch(hist_table, changes.filter(flt), run_id="r", epoch=i)
    before = sorted(map(tuple, read_history(hist_table).collect()))
    files_before = len(hist_table.files())
    res = hist_table.compact(max_files_per_bucket=1)
    assert res["files_after"] < files_before
    assert sorted(map(tuple, read_history(hist_table).collect())) == before


# ---------------------------------------------------- review-pass fixes (r3)
def test_history_commits_advance_high_lsn_and_change_feed_survives_compaction(
    spark, hist_table, changes
):
    """Append commits must carry lsn bounds (from footer stats): high_lsn()
    then prunes compaction-re-added rows out of read_changes, so a consumer
    that saw epoch 0 never re-receives it after a compaction."""
    from embulk_filter_copy_spark.cdc.history import apply_history_batch

    apply_history_batch(hist_table, changes.filter("lsn <= 3"), run_id="r", epoch=0)
    assert hist_table.high_lsn() == 3
    v_consumed = hist_table.current_version()
    # fragment + compact (rewrites every bucket, re-adding epoch-0 rows)
    hist_table.compact(max_files_per_bucket=1)
    apply_history_batch(hist_table, changes.filter("lsn > 3"), run_id="r", epoch=1)
    assert hist_table.high_lsn() == 7
    feed = hist_table.read_changes(since_version=v_consumed)
    lsns = sorted(r["lsn"] for r in feed.select("lsn").collect())
    assert lsns and min(lsns) > 3  # nothing from epoch 0 re-emitted


def test_history_batch_applies_ddl_before_following_data(spark, tmp_path):
    """A mid-epoch schema-change must evolve the STORE and record the new
    column's values for every post-DDL version (not silently NULL them)."""
    import json as _json

    from embulk_filter_copy_spark.cdc.history import (
        apply_history_batch,
        create_history_table,
        read_history,
    )

    t = create_history_table(
        spark, str(tmp_path / "h"),
        [("k", "string"), ("v", "string")], key_cols=["k"], n_buckets=2,
    )
    ddl = _json.dumps({"action": "add", "column": "sz", "type": "long"})
    rows = [
        ("k1", 1, "U", "a", None, None),
        ("k1", 4, "S", None, None, ddl),
        ("k1", 5, "U", "b", 42, None),
    ]
    batch = spark.createDataFrame(
        rows, "k string, lsn long, op string, v string, sz long, schema_change string"
    )
    apply_history_batch(t, batch, run_id="r", epoch=0)
    assert any(f.name == "sz" for f in t.schema.fields)
    h = {r["valid_from_lsn"]: r for r in read_history(t).collect()}
    assert h[5]["sz"] == 42          # post-DDL value recorded
    assert h[1]["sz"] is None        # pre-DDL version: column didn't exist
    # epoch replay: fully gated, no duplicate versions
    n = read_history(t).count()
    assert apply_history_batch(t, batch, run_id="r", epoch=0)["skipped"]
    assert read_history(t).count() == n


def test_mixture_sample_int_group_column(spark):
    df = spark.range(0, 300).select(
        F.concat(F.lit("d"), "id").alias("doc_id"),
        (F.col("id") % 3).cast("int").alias("dom"),
    )
    out = SA.mixture_sample(df, "dom", {0: 1.0, 1: 0.0}, key_col="doc_id",
                            default_fraction=0.5)
    counts = {r["dom"]: r["n"] for r in out.groupBy("dom").agg(F.count("*").alias("n")).collect()}
    assert counts[0] == 100 and 1 not in counts and 25 <= counts.get(2, 0) <= 75


def test_sink_mode_inherits_from_interior_nodes(spark):
    from embulk_filter_copy_spark.cdc.splitter import SinkSpec, flatten_specs

    tree = SinkSpec(
        name="audit", mode="history",
        children=(SinkSpec(name="a", path="/p/a"),
                  SinkSpec(name="b", path="/p/b", mode="merge")),
    )
    leaves = {l.name: l.mode for l in flatten_specs(tree)}
    # inherited down; a leaf cannot opt back out with the default value
    assert leaves == {"audit/a": "history", "audit/b": "history"}
    with pytest.raises(ValueError):
        flatten_specs(SinkSpec(name="x", mode="histroy",
                               children=(SinkSpec(name="l", path="/p"),)))


# ------------------------------------------------- materialized history view
def test_materialized_history_build_and_incremental_refresh(spark, tmp_path, changes):
    from embulk_filter_copy_spark.cdc.history import (
        apply_history_batch,
        create_history_table,
        materialize_history,
        materialized_store_version,
        read_history,
        refresh_history,
    )

    store = create_history_table(
        spark, str(tmp_path / "s"), [("k", "string"), ("v", "string")],
        key_cols=["k"], n_buckets=4,
    )
    apply_history_batch(store, changes.filter("lsn <= 3"), run_id="r", epoch=0)
    dest = materialize_history(store, str(tmp_path / "view"))
    cols = ["k", "v", "valid_from_lsn", "valid_to_lsn", "is_current"]

    def rows(df):
        return sorted(map(tuple, df.select(*cols).collect()))

    assert rows(dest.read()) == rows(read_history(store))

    # idempotent at the same store version
    assert refresh_history(store, dest)["skipped"]

    # new epoch touches k1 only -> refresh rewrites only k1's bucket
    apply_history_batch(store, changes.filter("lsn > 3"), run_id="r", epoch=1)
    res = refresh_history(store, dest)
    assert not res["skipped"] and len(res["buckets"]) == 1
    assert rows(dest.read()) == rows(read_history(store))
    assert materialized_store_version(dest) == store.current_version()
    # the closed/open flags materialized correctly across the refresh
    cur = {r["k"]: r["v"] for r in dest.read().filter("is_current").collect()}
    assert cur == {"k1": "c", "k2": "x"}


def test_refresh_rejects_mismatched_bucket_spec(spark, tmp_path, changes):
    from embulk_filter_copy_spark.cdc.history import (
        apply_history_batch,
        create_history_table,
        refresh_history,
    )
    from embulk_filter_copy_spark.lake.schema import TableSchema
    from embulk_filter_copy_spark.lake.table import LakeTable

    store = create_history_table(
        spark, str(tmp_path / "s"), [("k", "string"), ("v", "string")],
        key_cols=["k"], n_buckets=4,
    )
    apply_history_batch(store, changes, run_id="r", epoch=0)
    bad = LakeTable.create(
        spark, str(tmp_path / "bad"),
        TableSchema.from_pairs(
            [("k", "string"), ("v", "string"), ("valid_from_lsn", "long"),
             ("valid_to_lsn", "long"), ("is_current", "boolean")]
        ),
        key_columns=["k", "valid_from_lsn"], n_buckets=8,  # wrong count
        bucket_columns=["k"],
    )
    bad.add_commit({"run_id": "x", "epoch": 0, "store_version": 1})
    with pytest.raises(ValueError):
        refresh_history(store, bad)


def test_history_appends_write_per_file_lineage(spark, hist_table, changes):
    from embulk_filter_copy_spark.cdc.apply import read_lineage
    from embulk_filter_copy_spark.cdc.history import apply_history_batch

    apply_history_batch(hist_table, changes.filter("lsn <= 3"), run_id="r", epoch=0)
    apply_history_batch(hist_table, changes.filter("lsn > 3"), run_id="r", epoch=1)
    lin = read_lineage(hist_table)
    assert len(lin) == 2
    e0 = next(l for l in lin if l["epoch"] == 0)
    assert e0["rows"] == 3 and e0["events_per_sec"] > 0
    # per-file entries carry bucket + LSN range from footer stats
    assert all("bucket" in p and p["lsn_max"] is not None for p in e0["partitions"])
    assert max(p["lsn_max"] for p in e0["partitions"]) == 3


def test_refresh_follows_store_schema_evolution(spark, tmp_path):
    """A column added to the store via DDL after the view was built must
    appear (with its values) in the refreshed view, not be silently
    projected away."""
    import json as _json

    from embulk_filter_copy_spark.cdc.history import (
        apply_history_batch,
        create_history_table,
        materialize_history,
        read_history,
        refresh_history,
    )

    store = create_history_table(
        spark, str(tmp_path / "s"), [("k", "string"), ("v", "string")],
        key_cols=["k"], n_buckets=2,
    )
    b0 = spark.createDataFrame(
        [("k1", 1, "U", "a", None, None)],
        "k string, lsn long, op string, v string, sz long, schema_change string",
    )
    apply_history_batch(store, b0, run_id="r", epoch=0)
    dest = materialize_history(store, str(tmp_path / "view"))
    assert not any(f.name == "sz" for f in dest.schema.fields)

    ddl = _json.dumps({"action": "add", "column": "sz", "type": "long"})
    b1 = spark.createDataFrame(
        [("k1", 4, "S", None, None, ddl), ("k1", 5, "U", "b", 42, None)],
        "k string, lsn long, op string, v string, sz long, schema_change string",
    )
    apply_history_batch(store, b1, run_id="r", epoch=1)
    refresh_history(store, dest)
    assert any(f.name == "sz" for f in dest.schema.fields)
    got = {r["valid_from_lsn"]: r for r in dest.read().collect()}
    assert got[5]["sz"] == 42 and got[1]["sz"] is None
    cols = ["k", "v", "sz", "valid_from_lsn", "valid_to_lsn", "is_current"]
    assert sorted(map(tuple, dest.read().select(*cols).collect())) == \
        sorted(map(tuple, read_history(store).select(*cols).collect()))


def test_refresh_follows_store_rename_and_widen(spark, tmp_path):
    """Store RENAME and WIDEN DDL applied after the view was built must be
    mirrored into the view on refresh (by field id) — a rename previously
    crashed the refresh selecting the stale name, and a widen silently
    narrowed refreshed values."""
    import json as _json

    from embulk_filter_copy_spark.cdc.history import (
        apply_history_batch,
        create_history_table,
        materialize_history,
        read_history,
        refresh_history,
    )

    store = create_history_table(
        spark, str(tmp_path / "s"),
        [("k", "string"), ("v", "string"), ("sz", "int")],
        key_cols=["k"], n_buckets=2,
    )
    b0 = spark.createDataFrame(
        [("k1", 1, "U", "a", 7, None)],
        "k string, lsn long, op string, v string, sz int, schema_change string",
    )
    apply_history_batch(store, b0, run_id="r", epoch=0)
    dest = materialize_history(store, str(tmp_path / "view"))

    ren = _json.dumps({"action": "rename", "from": "v", "to": "val"})
    wid = _json.dumps({"action": "widen", "column": "sz", "to": "long"})
    b1 = spark.createDataFrame(
        [("k1", 4, "S", None, None, ren), ("k1", 5, "S", None, None, wid)],
        "k string, lsn long, op string, val string, sz long, schema_change string",
    )
    apply_history_batch(store, b1, run_id="r", epoch=1)
    b2 = spark.createDataFrame(
        [("k1", 6, "U", "b", 9_000_000_000, None)],
        "k string, lsn long, op string, val string, sz long, schema_change string",
    )
    apply_history_batch(store, b2, run_id="r", epoch=2)

    refresh_history(store, dest)
    fields = {f.name: f.type for f in dest.schema.fields}
    assert "val" in fields and "v" not in fields
    assert fields["sz"] == "long"
    got = {r["valid_from_lsn"]: r for r in dest.read().collect()}
    assert got[1]["val"] == "a" and got[1]["sz"] == 7      # pre-DDL survives
    assert got[6]["val"] == "b" and got[6]["sz"] == 9_000_000_000  # wide value
    cols = ["k", "val", "sz", "valid_from_lsn", "valid_to_lsn", "is_current"]
    assert sorted(map(tuple, dest.read().select(*cols).collect())) == \
        sorted(map(tuple, read_history(store).select(*cols).collect()))
    # idempotent: a second refresh at the same store version no-ops
    assert refresh_history(store, dest)["skipped"]


def test_ddl_epoch_resume_recovers_lineage(spark, tmp_path, monkeypatch):
    """Crash-resume through the DDL path: committed sub-units are skipped,
    but their per-file lineage must be RECOVERED into the epoch's lineage
    record, not dropped — the audit trail covers the whole epoch."""
    import json as _json

    import pytest as _pytest

    from embulk_filter_copy_spark.cdc.apply import read_lineage
    from embulk_filter_copy_spark.cdc.history import (
        apply_history_batch,
        create_history_table,
    )
    from embulk_filter_copy_spark.lake.table import LakeTable

    t = create_history_table(
        spark, str(tmp_path / "h"),
        [("k", "string"), ("v", "string")], key_cols=["k"], n_buckets=2,
    )
    ddl = _json.dumps({"action": "add", "column": "sz", "type": "long"})
    batch = spark.createDataFrame(
        [
            ("k1", 1, "U", "a", None, None),
            ("k1", 4, "S", None, None, ddl),
            ("k1", 5, "U", "b", 42, None),
        ],
        "k string, lsn long, op string, v string, sz long, schema_change string",
    )

    def boom(self, change, schema_lsn, commit=None):
        raise RuntimeError("crash before DDL")

    monkeypatch.setattr(LakeTable, "update_schema", boom)
    with _pytest.raises(RuntimeError):
        apply_history_batch(t, batch, run_id="r", epoch=0)
    monkeypatch.undo()
    # sub-unit 1 (lsn<4) committed before the crash; resume must skip it but
    # still report its rows/files in the epoch lineage
    res = apply_history_batch(t, batch, run_id="r", epoch=0)
    assert not res["skipped"] and res["rows_appended"] == 2
    rec = next(l for l in read_lineage(t) if l["epoch"] == 0)
    assert rec["rows"] == 2 and rec.get("resumed") is True
    lsns = [p for p in rec["partitions"] if p["lsn_max"] is not None]
    assert min(p["lsn_min"] for p in lsns) == 1   # pre-crash sub-unit present
    assert max(p["lsn_max"] for p in lsns) == 5   # post-resume sub-unit present


def test_temporal_join_point_in_time_semantics(spark):
    from embulk_filter_copy_spark.cdc.history import scd2_history, temporal_join

    ch = spark.createDataFrame(
        [("k", 10, "U", "v1"), ("k", 20, "U", "v2"), ("k", 30, "D", None),
         ("k", 40, "U", "v4")],
        "k string, lsn long, op string, val string",
    )
    hist = scd2_history(ch, ["k"])
    facts = spark.createDataFrame(
        [("k", 5), ("k", 10), ("k", 25), ("k", 35), ("k", 99), ("zz", 10)],
        "k string, at long",
    )
    out = {(r["k"], r["at"]): r["val"]
           for r in temporal_join(facts, hist, ["k"], at_col="at").collect()}
    assert out[("k", 5)] is None       # before the first version
    assert out[("k", 10)] == "v1"      # valid_from inclusive
    assert out[("k", 25)] == "v2"
    assert out[("k", 35)] is None      # deleted gap [30, 40)
    assert out[("k", 99)] == "v4"      # open current version
    assert out[("zz", 10)] is None     # unknown key survives the left join
    inner = temporal_join(facts, hist, ["k"], at_col="at", how="inner")
    assert inner.count() == 3          # gap/unknown/early facts dropped


def test_temporal_join_plan_is_equi_join(spark):
    """The interval predicate must ride as a residual on a KEY equi-join —
    a BroadcastNestedLoop/cartesian here would be quadratic at scale."""
    import contextlib
    import io

    from embulk_filter_copy_spark.cdc.history import scd2_history, temporal_join

    ch = spark.createDataFrame(
        [("k", 10, "U", "v1")], "k string, lsn long, op string, val string")
    facts = spark.createDataFrame([("k", 5)], "k string, at long")
    df = temporal_join(facts, scd2_history(ch, ["k"]), ["k"], at_col="at")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "NestedLoop" not in p and "Cartesian" not in p


def test_refresh_follows_store_drop(spark, tmp_path):
    """A column DROPPED from the store after the view was built must be
    dropped from the view on refresh — otherwise refreshed buckets
    null-fill the stale column while untouched buckets keep old values (a
    half-dropped view)."""
    import json as _json

    from embulk_filter_copy_spark.cdc.history import (
        apply_history_batch,
        create_history_table,
        materialize_history,
        read_history,
        refresh_history,
    )

    store = create_history_table(
        spark, str(tmp_path / "s"),
        [("k", "string"), ("v", "string"), ("junk", "string")],
        key_cols=["k"], n_buckets=2,
    )
    b0 = spark.createDataFrame(
        [("k1", 1, "U", "a", "x", None), ("k2", 2, "U", "b", "y", None)],
        "k string, lsn long, op string, v string, junk string, schema_change string",
    )
    apply_history_batch(store, b0, run_id="r", epoch=0)
    dest = materialize_history(store, str(tmp_path / "view"))
    assert any(f.name == "junk" for f in dest.schema.fields)

    ddl = _json.dumps({"action": "drop", "column": "junk"})
    b1 = spark.createDataFrame(
        [("k1", 4, "S", None, ddl), ("k1", 5, "U", "a2", None)],
        "k string, lsn long, op string, v string, schema_change string",
    )
    apply_history_batch(store, b1, run_id="r", epoch=1)
    refresh_history(store, dest)
    assert not any(f.name == "junk" for f in dest.schema.fields)
    cols = ["k", "v", "valid_from_lsn", "valid_to_lsn", "is_current"]
    assert sorted(map(tuple, dest.read().select(*cols).collect())) == \
        sorted(map(tuple, read_history(store).select(*cols).collect()))
    # idempotent re-refresh
    assert refresh_history(store, dest)["skipped"]
