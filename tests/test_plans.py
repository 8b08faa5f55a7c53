"""Physical-plan assertions: the properties that make these queries survive
a 100× scale-up must be visible in the plan, not assumed — filter pushdown
into the parquet scan, broadcast joins for small dims, map-side partial
aggregation, and manifest-level file pruning for merges."""

import contextlib
import io

from pyspark.sql import functions as F

from embulk_filter_copy_spark.cdc.dedup import lww_dedup, lww_dedup_salted
from embulk_filter_copy_spark.fixtures import gen_change_events

SF = "/root/testdata/sf0.001"


def plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_lww_dedup_has_partial_aggregation(spark):
    ev = gen_change_events(spark, 100, 500, seed=1)
    p = plan(lww_dedup(ev))
    # Catalyst plans partial (map-side) + final max_by around one shuffle
    assert p.count("max_by") >= 2 or "partial_max_by" in p


def test_salted_dedup_two_shuffles_bounded_keys(spark):
    ev = gen_change_events(spark, 100, 500, seed=1)
    import re

    p = plan(lww_dedup_salted(ev, n_salts=8))
    exchanges = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
    # phase 1 shuffles on (keys, salt), phase 2 on keys only
    assert len(exchanges) == 2
    assert any("_salt" in e for e in exchanges)
    assert any("_salt" not in e for e in exchanges)


def test_merge_plan_is_equi_join_no_nested_loop(spark, tmpdir_path):
    """The COW MERGE must plan as a shuffled equi-join on the keys — a
    BroadcastNestedLoopJoin or CartesianProduct here would melt at 100 TB."""
    import os

    from pyspark.sql import functions as F

    from embulk_filter_copy_spark.cdc.apply import build_merge
    from embulk_filter_copy_spark.cdc.dedup import lww_dedup
    from embulk_filter_copy_spark.fixtures import REPO_FILES_SCHEMA, gen_repo_files
    from embulk_filter_copy_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), REPO_FILES_SCHEMA,
        key_columns=["repo", "path"], n_buckets=4,
    )
    t.append(gen_repo_files(spark, 200, seed=1).withColumn("_lsn", F.lit(0)))
    ev = gen_change_events(spark, 200, 500, seed=1)
    merged = build_merge(t, lww_dedup(ev), buckets=[0, 1, 2, 3])
    p = plan(merged)
    assert "FullOuter" in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p

    # the patch-info merge (per-piece LSN guards) must keep the same shape:
    # the guards are SELECT-level CASE expressions over the joined row, not
    # extra joins or shuffles
    from embulk_filter_copy_spark.cdc.dedup import fold_patches

    pm = plan(build_merge(
        t, fold_patches(ev, emit_merge_info=True), buckets=[0, 1, 2, 3]
    ))
    assert "FullOuter" in pm
    assert "SortMergeJoin" in pm or "ShuffledHashJoin" in pm
    assert "BroadcastNestedLoopJoin" not in pm and "CartesianProduct" not in pm


def test_events_scan_prunes_partitions_by_lsn(spark):
    ev = gen_change_events(spark, 100, 500, seed=1)
    import tempfile, os

    d = tempfile.mkdtemp(prefix="efc-plan-")
    ev.write.parquet(os.path.join(d, "ev"))
    df = spark.read.parquet(os.path.join(d, "ev")).filter(F.col("lsn") > 400)
    p = plan(df)
    assert "PushedFilters" in p and "GreaterThan(lsn,400)" in p


def test_simhash_pairs_plan_is_banded_not_blocked(spark):
    """The near-dup join must key on simhash bit-bands, not a metadata
    column — metadata blocking is an all-pairs join in disguise."""
    from embulk_filter_copy_spark.queries.pipeline import dedup_simhash_pairs

    p = plan(dedup_simhash_pairs(spark, SF))
    assert "lang" not in p
    assert "_band" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_embedding_near_dup_plan_is_cell_blocked(spark):
    """Embedding near-dup must block on IVF cells (scales with n_cells),
    not the label metadata column (fixed cardinality → quadratic blocks)."""
    from embulk_filter_copy_spark.queries.pipeline import dedup_embedding_cosine

    p = plan(dedup_embedding_cosine(spark, SF))
    assert "cell" in p and "label" not in p


def test_ivf_join_assignment_plan_is_constant_size(spark):
    """At n_cells >= 256 the auto assignment must take the broadcast-join
    path: NO per-cell CASE WHEN chain / greatest(...) in the plan (the
    literal path's O(n_cells) expression breaks JVM codegen at the cell
    counts a 100 TB corpus needs), and the centroid side must be broadcast."""
    from embulk_filter_copy_spark.operators import similarity as S

    rows = [(i, [float((i * 7 + j * 3) % 11) for j in range(4)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = S.ivf_centroids(emb, 256)
    out = S.assign_cells(
        emb.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v")),
        cents, 256, "_v", id_col="_id",  # method="auto" → join at 256 cells
    )
    p = plan(out)
    assert p.count("CASE WHEN") < 10      # literal path would have ~256
    assert "greatest" not in p            # the literal argmax marker
    assert "Broadcast" in p               # centroids flow as broadcast data


def test_chunking_plan_is_narrow_no_shuffle(spark):
    """chunk_documents must chunk at scan speed: zero exchanges."""
    from embulk_filter_copy_spark.operators.sampling import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(chunk_documents(docs, 32, overlap=8))
    assert "Exchange" not in p
    assert "Generate" in p  # the posexplode over chunk starts


def test_mixture_sample_plan_broadcasts_weight_dim(spark):
    """The weight table must flow as broadcast DATA (no per-group literal
    CASE chain): a BroadcastHashJoin and no CASE WHEN over group values."""
    from embulk_filter_copy_spark.operators.sampling import mixture_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    weights = {f"src{i}": 0.5 for i in range(50)}
    p = plan(mixture_sample(docs, "source", weights, key_col="doc_id"))
    assert "BroadcastHashJoin" in p
    assert p.count("CASE WHEN") <= 2  # the null-coalesce, not 50 branches


def test_history_append_plan_single_batch_shuffle(spark, tmpdir_path):
    """apply_history_batch: exactly one exchange over the BATCH (the
    per-(key, lsn) transport dedup) feeds the write — the table itself is
    never read or joined, so epoch cost is O(batch) at any table size."""
    import os

    from embulk_filter_copy_spark.cdc.history import create_history_table
    from embulk_filter_copy_spark.fixtures import gen_change_events

    t = create_history_table(
        spark, os.path.join(tmpdir_path, "h"),
        [("repo", "string"), ("path", "string"), ("commit", "string"),
         ("lang", "string"), ("content", "string")],
        key_cols=["repo", "path"], n_buckets=4,
    )
    ev = gen_change_events(spark, 50, 200, seed=5)
    # reproduce the applier's pre-write frame (module internals are the
    # contract here: one groupBy over the batch, then a narrow projection)
    from pyspark.sql import functions as F

    from embulk_filter_copy_spark.cdc import history as H

    keys = ["repo", "path"]
    data = ev.filter("op <> 'S'")
    versions = data.groupBy(*keys, F.col("lsn").alias("valid_from_lsn")).agg(
        F.max_by(F.struct("commit", "lang", "content"), F.col("lsn")).alias("_w"),
        F.max(F.when(F.col("op") == "D", "D").otherwise("U")).alias("ver_op"),
    )
    p = plan(versions)
    import re

    assert len(re.findall(r"\) Exchange", p)) == 1
    assert "hashpartitioning" in p  # keyed on (repo, path, lsn)
    # partial (map-side) + final aggregation around that one shuffle
    assert "partial_max_by" in p


def test_materialized_view_as_of_filter_reaches_scan(spark, tmpdir_path):
    """snapshot_as_of over the MATERIALIZED view must push its interval
    predicate into the parquet scan (footer min/max skipping on
    valid_from_lsn once files are LSN-sorted) — the live view can't do
    this (its intervals are window-derived after the scan)."""
    import os

    from embulk_filter_copy_spark.cdc.history import (
        apply_history_batch,
        create_history_table,
        materialize_history,
        snapshot_as_of,
    )
    from embulk_filter_copy_spark.fixtures import gen_change_events

    store = create_history_table(
        spark, os.path.join(tmpdir_path, "s"),
        [("repo", "string"), ("path", "string"), ("commit", "string"),
         ("lang", "string"), ("content", "string")],
        key_cols=["repo", "path"], n_buckets=2,
    )
    ev = gen_change_events(spark, 30, 150, seed=7)
    apply_history_batch(store, ev, run_id="p", epoch=0)
    dest = materialize_history(store, os.path.join(tmpdir_path, "v"))
    p = plan(snapshot_as_of(dest.read(), 75))
    assert "PushedFilters" in p
    pushed = p.split("PushedFilters", 1)[1][:300]
    assert "valid_from_lsn" in pushed


def test_cap_tokens_plan_single_shuffle_and_fold_patches_partial(spark):
    """cap_tokens_per_group = ONE group-keyed exchange (window + filter);
    fold_patches keeps every aggregate partial (map-side) around ONE
    shuffle — the properties that bound both at 10^10 rows."""
    import re

    from embulk_filter_copy_spark.operators.sampling import cap_tokens_per_group

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(cap_tokens_per_group(docs, budget=1000), "simple")
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1

    from embulk_filter_copy_spark.cdc.dedup import fold_patches

    ev = gen_change_events(spark, 100, 500, seed=1)
    pf = plan(fold_patches(ev), "simple")
    assert len(re.findall(r"Exchange hashpartitioning", pf)) == 1
    # map-side partial aggregation below the single exchange (struct-typed
    # max_by plans as SortAggregate, so match the function, not the node)
    assert "partial_max_by" in pf


def test_ann_recall_plan_broadcasts_hit_join(spark):
    """The truth->approx hit join carries k*|queries| id pairs and must be
    a broadcast, never a shuffle of the rankings."""
    from embulk_filter_copy_spark.operators.similarity import ann_recall_report

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan(ann_recall_report(emb, emb.filter(F.col("vec_id") < 3),
                               n_cells=4, k=5, nprobe=1))
    assert "BroadcastHashJoin" in p
